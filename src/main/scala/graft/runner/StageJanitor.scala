package graft.runner

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.catalog.RunCatalog

/** Stage retention: landing/staging/transformed/rejects accumulate one
  * physical `run_id=<id>` directory per run forever — at millions of
  * runs that is millions of directories per stage. The janitor deletes
  * the per-run slices of runs that are (a) not among the newest `keep`
  * and (b) not still Running. The merge target is untouched (it is the
  * durable output; stages are replayable intermediates).
  */
object StageJanitor {

  private val stageDirs = Seq(
    "landing_orders", "staging_orders", "staging_orders_transformed", "rejected_orders")

  /** Delete old runs' stage slices. Returns the run ids cleaned. */
  def cleanStages(workDir: String, catalog: RunCatalog, keep: Int = 100): Seq[String] = {
    import org.apache.spark.sql.functions.desc
    val rows = catalog.runs()
      .select(col("run_id"), col("status"), col("started_at"))
      .orderBy(desc("started_at"))
      .collect()
    val keepIds: Set[String] =
      (rows.take(keep).map(_.getString(0)) ++
        rows.filter(r => r.getString(1) == "Running").map(_.getString(0))).toSet

    val cleaned = scala.collection.mutable.LinkedHashSet[String]()
    for (stage <- stageDirs) {
      val root = Paths.get(workDir, stage)
      if (Files.isDirectory(root)) {
        val listing = Files.list(root)
        try {
          val it = listing.iterator()
          while (it.hasNext) {
            val dir = it.next()
            val name = dir.getFileName.toString
            if (name.startsWith("run_id=")) {
              val runId = name.stripPrefix("run_id=")
              if (!keepIds.contains(runId)) {
                graft.util.Fs.deleteRecursively(dir)
                cleaned += runId
              }
            }
          }
        } finally listing.close()
      }
    }
    cleaned.toSeq
  }
}
