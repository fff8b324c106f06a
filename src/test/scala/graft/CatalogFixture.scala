package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.catalog.RunCatalog
import graft.runner.PipelineRunner

/** A deterministic run catalog for the route goldens: 126 runs written
  * through the public catalog calls under a stepping clock, so every
  * timestamp is fixed and no two sort keys tie.
  *
  * It holds Success, Failed, Cancelled and still-Running runs, a racing
  * Failed→Cancelled step, a run finished twice, strings that need JSON
  * escaping, and one real [[PipelineRunner]] run whose input has Extract
  * and Transform rejects. `compactThreshold` = 40 makes every store
  * auto-compact several times, so reads span parquet segments, live
  * appends and tombstones (older generations reaped).
  *
  * Run ids are random UUIDs; [[CatalogFixture.Built.ids]] maps each run
  * number to its id so goldens can store `{run:N}` placeholders.
  *
  * The goldens under `src/test/resources/catalog_golden/` are the route
  * bodies the Spark-plan read path (before the driver-side index) served
  * for this catalog, one `route<TAB>status<TAB>body` line each, in the
  * session time zone the file is named after. `/runs/{id}` lines for
  * runs older than the newest 100 hold that path's run row and steps
  * (its route then answered 404 for them).
  */
object CatalogFixture {

  /** 1.125 s per call from a fixed epoch: millis cycle through .125 …
    * .875 and .000, so both exact seconds and trailing zeros appear. */
  final class SteppingClock(start: Long = 1700000000000L, step: Long = 1125L) extends (() => Long) {
    private var t = start
    def apply(): Long = synchronized { t += step; t }
  }

  final case class Built(catalog: RunCatalog, ids: Map[Int, String], work: String) {
    def id(n: Int): String = ids(n)
    /** Replace every run id in `s` with its `{run:N}` placeholder. */
    def mask(s: String): String = ids.foldLeft(s) { case (acc, (n, id)) => acc.replace(id, s"{run:$n}") }
    /** Inverse of [[mask]]. */
    def unmask(s: String): String = ids.foldLeft(s) { case (acc, (n, id)) => acc.replace(s"{run:$n}", id) }
  }

  /** Run number of the real runner run with rejects. */
  val RejectsRun = 64

  val Threshold = 40

  def build(spark: SparkSession, work: String = Files.createTempDirectory("graft_cat_fixture").toString): Built = {
    val clock = new SteppingClock()
    val cat = new RunCatalog(spark, s"$work/catalog", clock, compactThreshold = Threshold)
    val ids = scala.collection.mutable.LinkedHashMap[Int, String]()
    val names = Seq("orders", "billing", "streaming-ingest", "we\"ird\\name")
    for (n <- 1 to 126) {
      if (n == RejectsRun) {
        val csv = Paths.get(work, "rejects.csv")
        Files.writeString(csv, "OrderId,CustomerId,Amount,OrderDate\n" +
          "R-1,C1,10.00,2025-01-01\nR-2,C2,-5.00,2025-01-02\nR-3,C3,99.00,not-a-date\n" +
          "R-4,C4,250.00,2025-01-04\n")
        val res = new PipelineRunner(spark, cat, s"$work/runner").run(csv.toString, "orders")
        require(res.status == "Success", s"fixture run: $res")
        ids(n) = res.runId
      } else {
        val id = cat.startRun(names(n % names.size))
        ids(n) = id
        val failAt = if (n % 10 == 3) 2 else 0
        val cancelAt = if (n % 10 == 7) 3 else 0
        val running = n == 60 || n > 121
        val lastStep = if (running) 1 + n % 3 else 4
        var stop = false
        for (s <- 1 to lastStep if !stop) {
          cat.updateStep(id, s, "Running")
          cat.log(id, "Info", s, s"${cat.stepNames(s - 1)} started")
          if (s == failAt) {
            cat.updateStep(id, s, "Failed", 0L, Some(s"bad row \"$n\"\tat C:\\in\nline 2 é"))
            cat.finishRun(id, "Failed")
            cat.log(id, "Error", s, "step failed", Some(s"bad row \"$n\""))
            if (n % 20 == 13) { // a later cancel racing the failure
              cat.updateStep(id, s, "Cancelled")
              cat.finishRun(id, "Cancelled")
            }
            stop = true
          } else if (s == cancelAt) {
            cat.updateStep(id, s, "Cancelled")
            cat.finishRun(id, "Cancelled")
            cat.log(id, "Warning", s, "run cancelled")
            stop = true
          } else if (!(running && s == lastStep)) {
            cat.updateStep(id, s, "Success", 100L * n + s)
            cat.log(id, "Info", s, s"${cat.stepNames(s - 1)} finished", Some(s"rows=${100L * n + s}"))
          }
        }
        if (!stop && !running) cat.finishRun(id, "Success")
      }
    }
    Built(cat, ids.toMap, work)
  }
}
