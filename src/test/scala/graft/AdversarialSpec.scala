package graft

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Standing adversarial-corpus sweep (VERDICT r4 task 7).
  *
  * [[graft.tools.AdversarialGen]] emits the edge rows the sf generators
  * never produce — NULL/empty/whitespace texts, NFD twins, embedded-URL
  * `?` nesting, the zero-norm embedding, exact-timestamp ties, NULL
  * timestamps, junk JSON, NULL strata, sparse 10^10 ids. Every catalog
  * query must RUN on that corpus (no ANSI division-by-zero, no NULL row
  * crashes, no phantom buckets). The rows+hash half of the gate — the
  * same corpus swept against every DuckDB oracle — runs driver-side:
  *
  *   runMain graft.tools.AdversarialGen /root/testdata/sf0.001 /tmp/adv
  *   runMain graft.Verify /tmp/adv /tmp/vadv
  *   python3 tools/check.py /tmp/adv /tmp/vadv    # 85/85 OK
  *
  * (verified green for the full catalog; the divergences it caught and
  * their defined-semantics fixes are recorded in BASELINE.md).
  *
  * The temp corpus and the ANN side tables trained on it are deleted
  * after the suite, so a run leaves nothing under `/tmp`.
  */
class AdversarialSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("adversarial-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private var made = Option.empty[String]

  lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-adv").toString
    made = Some(d)
    graft.tools.AdversarialGen.writeCorpus(spark, "/root/testdata/sf0.001", d)
    d
  }

  override def afterAll(): Unit =
    try made.foreach(d => Seq(d, ExtQueries.annIvfCentsPath(d), ExtQueries.annPqCbPath(d))
      .foreach(p => TestFiles.deleteTree(Paths.get(p))))
    finally super.afterAll()

  test("every catalog query runs on the adversarial corpus") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, dir).count(); None }
      catch { case e: Throwable =>
        Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
      }
    }
    assert(failures.isEmpty, s"queries crashed on adversarial input:\n${failures.mkString("\n")}")
  }
}
