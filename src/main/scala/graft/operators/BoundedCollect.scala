package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The one "collect if small, else distributed" decision shared by the
  * iterative operators: connected components, LPA, BFS, HITS, the
  * logistic-regression trainer, k-center selection and the 64-token
  * vocabulary probe.
  *
  * Rule (the broadcast-hash-join size discipline): a frame at or under a
  * row ceiling is pulled to the driver like any broadcast side, and the
  * operator runs its rounds there with the same arithmetic as the
  * distributed form. The distributed rounds pay one or more job launches
  * and exchanges PER ROUND for microseconds of per-row work, so the local
  * path is the job-latency fix; above the ceiling the distributed rounds
  * run unchanged, which is the path that scales. Each site documents the
  * term-by-term arithmetic it replicates, and the dispatch spec pins
  * local ≡ forced-distributed (a per-call ceiling of 0) for every site.
  *
  * The probe is its own data: `limit(max + 1)` pulls at most one row past
  * the ceiling, so a small frame reaches the driver in one action with no
  * separate `count()`, and a large one costs one bounded read before the
  * distributed path takes over.
  */
private[graft] object BoundedCollect {

  /** Edge ceiling for the graph operators (CC, LPA, BFS, HITS): 16 B per
    * long edge puts 1M edges at ~16 MB, the broadcast size class.
    */
  val LocalMaxEdges: Int = 1000000

  /** All rows of `df` when there are at most `max` of them, else None.
    * `max <= 0` always gives None: a zero ceiling forces the distributed
    * path, even on an empty frame.
    */
  def collectAtMost(df: DataFrame, max: Int): Option[Array[Row]] =
    if (max <= 0) None
    else {
      val rows = df.limit(max + 1).collect()
      if (rows.length <= max) Some(rows) else None
    }
}
