package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One partition-rewrite path: a scan of `src/main/scala` (no Spark
  * session) that fails when dynamic-overwrite conf or a partition drop
  * appears outside `CatalogOps.overwritePartitions` and the
  * `dropPartitions` step it calls, so the next rewrite cannot fork its own
  * set/restore or SQL-literal drop again.
  */
class RewriteGuardSpec extends AnyFunSuite {
  /** (what, pattern, defs of CatalogOps.scala allowed to hold it) */
  private val rules = Seq(
    ("partitionOverwriteMode", "partitionOverwriteMode|PARTITION_OVERWRITE_MODE".r,
      Set("overwritePartitions")),
    ("a SQL partition drop", "DROP\\s+(IF\\s+EXISTS\\s+)?PARTITION".r, Set.empty[String]),
    ("a catalog partition drop", "(?i)catalog\\s*\\.\\s*dropPartitions".r,
      Set("dropPartitions")))

  /** The character ranges of the named defs: from `def <name>` to the
    * next member at class indentation. */
  private def defRanges(text: String, names: Set[String]): Seq[Range] =
    names.toSeq.flatMap { n =>
      val start = text.indexOf(s" def $n(")
      if (start < 0) None
      else {
        val next = "\n  (/\\*\\*|def |private|val |lazy |final )".r
          .findFirstMatchIn(text.substring(start)).fold(text.length)(start + _.start)
        Some(start until next)
      }
    }

  /** Offending matches in one source file, as `file:line what`. Adjacent
    * string literals joined by `+` are read as one (keeping their line
    * breaks), so a drop statement split over two lines is still seen. */
  private def violations(file: String, raw: String): Seq[String] = {
    val text = "\"\\s*\\+\\s*s?\"".r.replaceAllIn(raw, m => "\n" * m.matched.count(_ == '\n'))
    rules.flatMap { case (what, re, allowed) =>
      val ok = if (file.endsWith("CatalogOps.scala")) defRanges(text, allowed) else Nil
      re.findAllMatchIn(text).filterNot(m => ok.exists(_.contains(m.start)))
        .map(m => s"$file:${text.substring(0, m.start).count(_ == '\n') + 1} $what")
    }
  }

  test("dynamic-overwrite conf and partition drops appear only in overwritePartitions") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath.toString)
    val files: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val found = files.flatMap(p => violations(p.toString, Files.readString(p)))
    assert(found.isEmpty, found.mkString("\n"))
    // and the helper itself is where the scan expects it
    val catalogOps = files.find(_.endsWith("sources/CatalogOps.scala")).get
    val text = Files.readString(catalogOps)
    assert(defRanges(text, Set("overwritePartitions", "dropPartitions")).size === 2)
    assert(text.contains("partitionOverwriteMode"))
  }

  test("the scan sees a conf set outside the helper and a drop split over lines") {
    val src =
      """object X {
        |  def f(): Unit = {
        |    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        |    spark.sql(s"ALTER TABLE t DROP IF EXISTS " +
        |      s"PARTITION (p=1)")
        |    spark.sessionState.catalog.dropPartitions(id, specs, true, false, false)
        |  }
        |}""".stripMargin
    assert(violations("X.scala", src) === Seq("X.scala:3 partitionOverwriteMode",
      "X.scala:4 a SQL partition drop", "X.scala:6 a catalog partition drop"))
  }
}
