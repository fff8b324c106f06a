package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.RunCatalog
import graft.http.ApiServer
import graft.merge.MergeWriter
import graft.ops.{Extract, Transform}
import graft.runner.{PipelineRunner, ProgressListener}
import graft.sources.Ingest
import graft.util.{CacheScope, Fs}

/** The monitoring page's refresh: `GET /runs`, then for the newest run
  * its detail, progress and logs, in the page's order, on one
  * connection. Each GET is recorded as (route, ms, status).
  */
final class MonitorClient(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def get(path: String): (Int, String, Double) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build()
    val t0 = System.nanoTime()
    val res = http.send(req, HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body(), (System.nanoTime() - t0) / 1e6)
  }

  /** One page refresh; returns (route, ms, status) per GET. */
  def refresh(): Seq[(String, Double, Int)] = {
    val (code, body, ms) = get("/runs")
    val newest = if (code != 200) None
      else json.readTree(body).elements().asScala.toSeq.headOption.map(_.get("run_id").asText())
    ("runs", ms, code) +: newest.toSeq.flatMap { id =>
      Seq("detail" -> s"/runs/$id", "progress" -> s"/runs/$id/progress", "logs" -> s"/logs?runId=$id")
        .map { case (route, p) => val (c, _, t) = get(p); (route, t, c) }
    }
  }
}

/** Orders ETL: a bulk CSV into an empty target, then small upsert files
  * (half updates, half inserts) into the same target while the
  * monitoring page reads the catalog through the API. A timed pass is
  * the bulk load plus the first [[OrdersEtl.UpsertsPerPass]] upserts;
  * the traced run replays the whole series, which crosses the runner's
  * compact/vacuum cadence (every 16th target version).
  */
final class OrdersEtl(inputs: String, work: Path, rec: Record) extends Workload {
  private val dir = Paths.get(inputs, "orders")
  private val bulk = dir.resolve("bulk.csv").toString
  private val upserts = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
    .filter(_.startsWith("upsert_")).toSeq.sorted.map(f => dir.resolve(f).toString)
  private val warm = dir.resolve("warm.csv").toString
  private val fileRows: Map[String, Long] = (warm +: bulk +: upserts).map { f =>
    val lines = Files.lines(Paths.get(f))
    try f -> (lines.count() - 1) finally lines.close()
  }.toMap

  private final class Lane(spark: SparkSession, val root: Path) {
    Files.createDirectories(root)
    val catalog = new RunCatalog(spark, s"$root/catalog")
    val runner = new PipelineRunner(spark, catalog, root.toString)
    val progress = new ProgressListener(catalog)
    spark.sparkContext.addSparkListener(progress)
    val api = new ApiServer(catalog, runner, s"$root/uploads", 0, progress = Some(progress)).start()
    def close(): Unit = {
      api.stop()
      spark.sparkContext.removeSparkListener(progress)
    }
  }

  private def runChecked(lane: Lane, kind: String, csv: String): (PipelineRunner#RunResult, Double) = {
    val (res, t) = Main.timed(CacheScope.loan(lane.runner.run(csv)))
    val ok = res.status == "Success" && res.rowsPerStep.size == 4 &&
      res.rowsPerStep.values.forall(_ == fileRows(csv))
    rec.op(kind, Paths.get(csv).getFileName.toString, if (ok) Some(t) else None,
      if (ok) null else s"status=${res.status} rows=${res.rowsPerStep} expected=${fileRows(csv)}")
    (res, t)
  }

  def setup(spark: SparkSession, rep: Int): Unit = {
    val lane = new Lane(spark, work.resolve(s"setup$rep"))
    try {
      CacheScope.loan(lane.runner.run(warm))
      new MonitorClient(lane.api.boundPort).refresh()
    } finally {
      lane.close()
      Fs.deleteRecursively(lane.root)
    }
  }

  /** Row count and order-independent checksum of the target, compared
    * by run.py against its own last-writer-wins replay of the inputs. */
  private def targetDigest(spark: SparkSession, targetDir: String): Map[String, Any] = {
    val t = MergeWriter.readTarget(spark, targetDir).get
    val r = t.agg(count(lit(1)), sum(crc32(concat_ws("|", col("order_id"),
      col("amount").cast("string"), col("amount_category"))))).head()
    Map("rows" -> r.getLong(0), "checksum" -> r.getLong(1),
      "version" -> MergeWriter.currentVersion(targetDir))
  }

  /** Runs `body` while one monitoring-page refresh, started with it,
    * reads the catalog: the page refreshes every 2 s and a run takes
    * longer, so a refresh overlaps the start of every run. Starting it
    * with the run, not on a free-running timer, gives every run the
    * same overlap. */
  private def monitored[A](client: MonitorClient)(body: => A): A = {
    val page = scala.concurrent.Future(client.refresh())(scala.concurrent.ExecutionContext.global)
    val a = body
    scala.concurrent.Await.result(page, scala.concurrent.duration.Duration(60, "s"))
      .foreach { case (route, ms, code) => rec.sample("api", Map("route" -> route, "ms" -> ms, "status" -> code)) }
    a
  }

  def pass(spark: SparkSession, i: Int): Double = {
    val lane = new Lane(spark, work.resolve(s"pass$i"))
    val client = new MonitorClient(lane.api.boundPort)
    try {
      val (_, tBulk) = runChecked(lane, "bulk", bulk)
      val ups = upserts.take(OrdersEtl.UpsertsPerPass).map(f => monitored(client)(runChecked(lane, "upsert", f))._2)
      rec.sample("bulk_load_s", tBulk)
      rec.sample("upsert_phase_s", ups.sum)
      rec.sample("target", targetDigest(spark, lane.runner.targetDir) + ("upserts" -> ups.size))
      tBulk + ups.sum
    } finally {
      lane.close()
      Fs.deleteRecursively(lane.root)
    }
  }

  def check(spark: SparkSession): Unit = ()

  // ---- traced run ----------------------------------------------------

  /** The runner's four steps replayed through the same public calls,
    * each inside a span, with the catalog appends the runner makes. */
  private def replay(spark: SparkSession, tr: Tracer, root: Path, catalog: RunCatalog,
                     phase: String, csv: String): Map[String, Long] = {
    val landing = s"$root/landing_orders"
    val staging = s"$root/staging_orders"
    val trans = s"$root/staging_orders_transformed"
    val target = s"$root/target_orders"
    def append[A](body: => A): A = tr.span("catalog.append")(body)
    def clean(obs: Observation, label: String): Long = {
      val m = obs.get
      require(m("n_rej") == 0L, s"$label rejected ${m("n_rej")} rows")
      m("n_clean").asInstanceOf[Long]
    }
    def observed(df: org.apache.spark.sql.DataFrame, obs: Observation) = df.observe(obs,
      sum(when(col("reject_reason").isNotNull, 1L).otherwise(0L)).as("n_rej"),
      sum(when(col("reject_reason").isNull, 1L).otherwise(0L)).as("n_clean"))
    tr.span(s"$phase.run") {
      val runId = append(catalog.startRun("OrdersPipeline"))
      val steps: Seq[(String, String, () => Long)] = Seq(
        ("Data Pull", s"$phase.sources", () =>
          Ingest.writeLanding(Ingest.readCsv(spark, csv, runId), landing, runId)),
        ("Extract", s"$phase.ops.extract", () => {
          val obs = new Observation()
          Ingest.writeRunSlice(Extract.clean(observed(
            Extract.extract(Ingest.readStage(spark, landing, runId)), obs)), staging, runId)
          clean(obs, "Extract")
        }),
        ("Transform", s"$phase.ops.transform", () => {
          val obs = new Observation()
          Ingest.writeRunSlice(Transform.clean(observed(
            Transform.transform(Ingest.readStage(spark, staging, runId)), obs)), trans, runId)
          clean(obs, "Transform")
        }),
        ("Migrate", s"$phase.merge", () => {
          val updates = Ingest.readStage(spark, trans, runId)
            .select(col("order_id"), col("customer_id"), col("amount"), col("order_date"),
              col("amount_category"), monotonically_increasing_id().as("_src_order"))
          val n = MergeWriter.merge(spark, target, updates, "order_id", "_src_order")
          val ver = MergeWriter.currentVersion(target)
          val staged = Main.du(Paths.get(trans, s"run_id=$runId"))._1
          val written = Main.du(Paths.get(target, s"v$ver"), ".parquet")
          if (phase == "upsert" && staged > 0) {
            rec.sample("write_amp", written._1.toDouble / staged)
            rec.sample("files_per_version", written._2.toDouble)
          }
          if (ver > 0 && ver % 16 == 0) tr.span("merge.maintain", "merge.maintain") {
            MergeWriter.compact(spark, target)
            MergeWriter.vacuum(target, keep = 8)
          }
          n
        }))
      val rows = steps.zipWithIndex.map { case ((name, layer, body), i) =>
        append { catalog.updateStep(runId, i + 1, "Running"); catalog.log(runId, "Info", i + 1, s"$name started") }
        val n = CacheScope.loan(tr.span(layer, layer)(body()))
        append { catalog.updateStep(runId, i + 1, "Success", n); catalog.log(runId, "Info", i + 1, s"$name finished", Some(s"rows=$n")) }
        name -> n
      }.toMap
      append(catalog.finishRun(runId, "Success"))
      rows
    }
  }

  def traced(spark: SparkSession, tr: Tracer): Unit = {
    val root = work.resolve("traced")
    val lane = new Lane(spark, root)
    val client = new MonitorClient(lane.api.boundPort)
    val layerCounts = scala.collection.mutable.Map[String, Seq[LayerCounts]]().withDefaultValue(Seq.empty)
    def takeCounts(phase: String): Unit =
      Seq("sources", "ops.extract", "ops.transform", "merge").foreach { l =>
        layerCounts(s"$phase.$l") :+= tr.counts(s"$phase.$l")
      }
    val catalogReads = scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Seq.empty)
    val httpReads = scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Seq.empty)
    // untraced reference: the runner itself, on a lane of its own, runs
    // each file of a timed pass just before that file's replay, so both
    // see the same JVM warmth; it gives rowsPerStep to compare, its wall
    // time for runner.overhead_s, and the tracing overhead
    val ref = new Lane(spark, work.resolve("untraced"))
    val refFiles = (bulk +: upserts.take(OrdersEtl.UpsertsPerPass)).toSet
    val refRuns = scala.collection.mutable.Map[String, (PipelineRunner#RunResult, Double)]()
    try {
      val replayed = (bulk +: upserts).zipWithIndex.map { case (f, i) =>
        val phase = if (f == bulk) "bulk" else "upsert"
        if (refFiles(f)) {
          tr.close()
          refRuns(f) = runChecked(ref, phase, f)
          spark.sparkContext.addSparkListener(tr.listener)
        }
        val rows = replay(spark, tr, root, lane.catalog, phase, f)
        takeCounts(phase)
        if (phase == "upsert" && i % OrdersEtl.ReadEvery == 0) {
          // the catalog reads behind each API route, called directly,
          // then the routes themselves: route minus read = server time
          val newest = lane.catalog.listRuns().select("run_id").head().getString(0)
          Seq(
            "runs" -> (() => lane.catalog.listRuns().toJSON.collect()),
            "detail" -> (() => {
              lane.catalog.listRuns().filter(col("run_id") === newest).toJSON.collect()
              lane.catalog.steps(newest).toJSON.collect()
            }),
            "logs" -> (() => lane.catalog.listLogs(Some(newest)).toJSON.collect())
          ).foreach { case (k, body) =>
            catalogReads(k) :+= Main.timed(tr.span(s"catalog.read_$k")(body()))._2 * 1e3
          }
          client.refresh().foreach { case (route, ms, code) =>
            rec.sample("api", Map("route" -> route, "ms" -> ms, "status" -> code))
            httpReads(route) :+= ms
          }
        }
        f -> rows
      }.toMap
      replayed.foreach { case (f, rows) =>
        val runner = refRuns.get(f).map(_._1.rowsPerStep)
        rec.check(s"replay_rows_${Paths.get(f).getFileName}",
          rows.size == 4 && rows.values.forall(_ == fileRows(f)) && runner.forall(_ == rows),
          s"replay=$rows runner=$runner file=${fileRows(f)}")
      }
      rec.check("replay_crossed_maintenance", tr.durations("merge.maintain").nonEmpty,
        s"target version ${MergeWriter.currentVersion(lane.runner.targetDir)}")
      val med = (xs: Seq[Double]) => Main.median(xs)
      val L = rec.layers
      for (phase <- Seq("bulk", "upsert")) {
        def c(l: String) = layerCounts(s"$phase.$l")
        L(s"$phase.sources.pull_s") = med(tr.durations(s"$phase.sources"))
        L(s"$phase.sources.jobs") = med(c("sources").map(_.jobs.toDouble))
        L(s"$phase.ops.extract_s") = med(tr.durations(s"$phase.ops.extract"))
        L(s"$phase.ops.transform_s") = med(tr.durations(s"$phase.ops.transform"))
        L(s"$phase.ops.jobs") = med(c("ops.extract").zip(c("ops.transform")).map { case (a, b) => (a.jobs + b.jobs).toDouble })
        L(s"$phase.merge.merge_s") = med(tr.selfTimes(s"$phase.merge"))
        L(s"$phase.merge.jobs") = med(c("merge").map(_.jobs.toDouble))
        L(s"$phase.merge.shuffle_bytes") = med(c("merge").map(_.shuffleBytes.toDouble))
      }
      L("merge.maintain_s") = med(tr.durations("merge.maintain"))
      L("merge.write_amp") = med(rec.samples("write_amp").map(_.asInstanceOf[Double]).toSeq)
      L("merge.files_per_version") = med(rec.samples("files_per_version").map(_.asInstanceOf[Double]).toSeq)
      // catalog appends per run, summed
      val runs = tr.all.filter(_.name == "upsert.run").sortBy(_.startNs)
      val appendByRun = runs.map(r => tr.all.filter(s => s.name == "catalog.append" &&
        s.startNs >= r.startNs && s.endNs <= r.endNs).map(_.seconds).sum)
      L("catalog.append_s") = med(appendByRun)
      L("catalog.read_runs_ms") = med(catalogReads("runs"))
      L("catalog.read_detail_ms") = med(catalogReads("detail"))
      L("catalog.read_logs_ms") = med(catalogReads("logs"))
      L("catalog.store_files") = Main.du(root.resolve("catalog"))._2.toDouble
      Seq("runs", "detail", "progress", "logs").foreach(r => L(s"http.${r}_ms") = med(httpReads(r)))
      // the untraced runner against the replay of the same files
      val untracedUpsert = med(refRuns.collect { case (f, (_, t)) if f != bulk => t }.toSeq)
      val sameFiles = runs.take(OrdersEtl.UpsertsPerPass)
      val stepSum = sameFiles.map(r => tr.all.filter(s => s.parent == r.id && s.name != "catalog.append")
        .map(_.seconds).sum)
      L("runner.overhead_s") = untracedUpsert - med(stepSum)
      L("runner.self_s") = med(tr.selfTimes("upsert.run"))
      L("trace.overhead_pct") = 100 * (med(sameFiles.map(_.seconds)) - untracedUpsert) / untracedUpsert
      rec.sample("target", targetDigest(spark, lane.runner.targetDir) + ("upserts" -> upserts.size))
    } finally { lane.close(); ref.close() }
  }
}

object OrdersEtl {
  /** Upserts in a timed pass, after the bulk load. */
  val UpsertsPerPass = 2
  /** The traced run reads the catalog and the API after every n-th upsert. */
  val ReadEvery = 4
}
