package graft.perfbench

import java.io.File

/** The per-layer metrics of a traced run, named `<Layer>.<metric>`. Every
  * run reports every layer; a layer its workload never calls reads 0. */
object Layers {
  val All: Seq[String] = Seq(
    "TextOps.ragEndToEndText", "KnnOps.topKByText",
    "GraphAnnOps.searchStoredRouted", "RetrievalOps.bm25TopKIndexedOn",
    "TextAnalysisOps.embedVectors", "CatalogOps.createNswRoutedCollection",
    "CatalogOps.createBm25Stats", "CatalogOps.createPostings",
    "CatalogOps.upsertNsw", "CatalogOps.upsertBm25Stats", "CatalogOps.upsertPostings",
    "CatalogOps.compactBm25Stats", "CatalogOps.compactPostings",
    "FrontierOps.crawlPlan", "WarcOps.extractOf", "WarcOps.batchGateInputs",
    "WarcOps.funnelSurvivors", "CatalogOps.exportShardedVerified")

  /** Layers whose writes are counted. */
  val Writers: Set[String] = Set("CatalogOps.upsertNsw", "CatalogOps.upsertBm25Stats",
    "CatalogOps.upsertPostings", "CatalogOps.compactPostings",
    "CatalogOps.exportShardedVerified")

  /** Layers whose file reads are counted. */
  val Readers: Set[String] = Set("GraphAnnOps.searchStoredRouted",
    "RetrievalOps.bm25TopKIndexedOn")

  def metrics(tracer: Tracer, cores: Int, survivorFrac: Double): Seq[Metric] = {
    val spans = tracer.allSpans.filter(_.isLayer).groupBy(_.name)
    All.flatMap { layer =>
      val ss = spans.getOrElse(layer, Nil)
      val n = ss.length
      def perCall(x: Double) = if (n == 0) 0.0 else x / n
      val wallMs = ss.map(_.durNs / 1e6).sum
      val generic = Seq(
        Metric("calls", n.toDouble, "count"),
        Metric("self_ms_p50", if (n == 0) 0.0 else Stats.median(ss.map(_.selfMs)), "ms"),
        Metric("jobs_per_call", perCall(ss.map(_.jobs).sum.toDouble), "count"),
        Metric("planning_ms_per_call", perCall(ss.map(_.planningMs).sum), "ms"),
        Metric("task_busy_frac",
          if (wallMs <= 0) 0.0 else ss.map(_.taskRunMs).sum / (wallMs * cores), "ratio"),
        Metric("shuffle_bytes_per_call", perCall(ss.map(_.shuffleBytes).sum.toDouble), "B"))
      val docs = ss.map(_.docs).sum
      val writes =
        if (!Writers(layer)) Nil
        else Seq(
          Metric("bytes_written_per_doc",
            if (docs == 0) 0.0 else ss.map(_.outputBytes).sum.toDouble / docs, "B/doc"),
          Metric("files_written_per_call", perCall(ss.map(_.filesWritten).sum.toDouble),
            "count"))
      val reads =
        if (!Readers(layer)) Nil
        else Seq(Metric("files_read_per_call", perCall(ss.map(_.filesRead).sum.toDouble),
          "count"))
      val survivors =
        if (layer != "WarcOps.funnelSurvivors") Nil
        else Seq(Metric("survivor_frac", survivorFrac, "ratio"))
      (generic ++ writes ++ reads ++ survivors).map(m => m.copy(name = s"$layer.${m.name}"))
    } ++ Seq(
      Metric("engine.spill_bytes", tracer.spillBytes.toDouble, "B"),
      Metric("engine.gc_ms", tracer.gcMs.toDouble, "ms"))
  }
}

/** Tracing overhead: the traced run's figures beside those of the last
  * untraced run of the same workload and seed. */
object Overhead {
  private val Entry = "\"([^\"]+)\":\\{\"value\":([-0-9.eE]+)".r

  def report(untracedFile: File, traced: Seq[Metric]): Seq[String] =
    if (!untracedFile.exists())
      Seq(s"overhead unavailable: no untraced result at ${untracedFile.getPath}")
    else {
      val text = new String(java.nio.file.Files.readAllBytes(untracedFile.toPath), "UTF-8")
      val untraced = Entry.findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble).toMap
      traced.flatMap { m =>
        untraced.get(m.name).filter(_ != 0.0).map { u =>
          f"overhead ${m.name} traced=${m.value}%.4f untraced=$u%.4f ratio=${m.value / u}%.3f"
        }
      }
    }
}
