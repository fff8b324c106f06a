package graft.catalog

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonGenerator
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.model.{LogEntry, PipelineRun, StepRun}
import graft.util.{Fs, Json}

/** Run-control catalog (SURVEY.md §1.1 control tables, §2.2 K3/K4,
  * §2.8 query surface).
  *
  * Driver-side metadata store: runs/steps/logs as NDJSON append logs
  * under a work dir, rolled into parquet segments every
  * `compactThreshold` appends. Writes are plain driver-side file
  * appends (microseconds — the reference's DB-write equivalent; a Spark
  * write job per status transition cost seconds of fixed overhead per
  * run). Reads are driver-side too: a [[CatalogIndex]] parses each new
  * store file once and answers the API's polls from memory, so a
  * monitoring page refresh starts no Spark job and takes no cores from
  * the runs it watches. Its memory grows with the number of catalog
  * rows: about 34 MB of heap for 10k runs of four steps and eight log
  * lines each. The DataFrame methods are built from the same resolved
  * rows, as local relations.
  *
  * RunNumber is a driver-side synchronized counter persisted to a file
  * (§2.6 A2 — the reference's `MAX+1` SQL pattern is racy; a real
  * sequence is the spec'd intent).
  */
class RunCatalog(private[graft] val spark: SparkSession, val dir: String,
                 clock: () => Long = () => System.currentTimeMillis(),
                 compactThreshold: Int = 1000,
                 tombstoneAgeFloorMs: Long = 0L) {
  import RunCatalog._

  private val runsDir  = s"$dir/pipeline_runs"
  private val stepsDir = s"$dir/step_runs"
  private val logsDir  = s"$dir/pipeline_logs"
  private val seqFile  = Paths.get(dir, "_run_number")

  Seq(runsDir, stepsDir, logsDir).foreach(d => Files.createDirectories(Paths.get(d)))

  private val index = new CatalogIndex(spark, runsDir, stepsDir, logsDir)

  val stepNames: Seq[String] = Seq("Data Pull", "Extract", "Transform", "Migrate")

  private def now(): Timestamp = new Timestamp(clock())

  private def nextRunNumber(): Long = seqFile.synchronized {
    val n = if (Files.exists(seqFile)) Files.readString(seqFile).trim.toLong + 1 else 1L
    Files.writeString(seqFile, n.toString)
    n
  }

  // one writer at a time per catalog (the runner's logger vs the
  // progress flusher, §2.10 C3); appends are whole-file creates
  private val writeLock = new Object

  // appends since construction, per store dir — drives auto-compaction
  private val appendCounts = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()

  private def jsonLines(rows: Seq[JsonGenerator => Unit], dirPath: String): Unit = {
    writeLock.synchronized {
      Files.writeString(
        Paths.get(dirPath, s"append-${System.nanoTime}-${UUID.randomUUID().toString.take(8)}.json"),
        rows.map(Json.render).mkString("", "\n", "\n"), java.nio.file.StandardOpenOption.CREATE_NEW)
    }
    // K3 at scale: one tiny file per status transition means a
    // million-run catalog lists a million files on every API read —
    // roll appends into a parquet segment once enough pile up
    val n = appendCounts.computeIfAbsent(dirPath, _ => new java.util.concurrent.atomic.AtomicInteger())
    if (n.incrementAndGet() >= compactThreshold) {
      n.set(0)
      compactStore(dirPath)
    }
  }

  /** Roll every NDJSON append (and any previous segment) into one new
    * parquet segment. Runs inline under the write lock (an occasional
    * sub-second pause, amortized over `compactThreshold` microsecond
    * appends). The segment is written from the index's rows in store
    * order, so nothing is parsed twice.
    *
    * Deletion is DEFERRED one compaction generation: rolled files are
    * tombstoned (excluded from new listings) but left on disk, and only
    * files tombstoned by a *previous* compaction are physically
    * deleted. A reader in another process that listed files just before
    * this compaction therefore keeps a consistent, fully-readable
    * snapshot for a whole further cycle (~`compactThreshold` appends) —
    * no FileNotFoundException mid-query, no transient duplicate rows.
    * Crash-safe ordering: the segment is fully written before the
    * tombstone; a crash in between leaves duplicate rows, which the
    * read-side latest-per-key resolution collapses for runs/steps.
    */
  private def compactStore(path: String): Unit =
    writeLock.synchronized {
      // reap the previous generation first: anything already tombstoned
      // was excluded from every listing since that tombstone published,
      // so only reads planned before the PREVIOUS compaction could
      // still reference it — they've had a full cycle to drain. The
      // age floor additionally keeps a tombstone's files on disk for
      // `tombstoneAgeFloorMs` after it published — one generation is
      // plenty for this driver's sub-second reads, but external readers
      // (another JVM planning against a listing) drain on wall-clock
      // time, not compaction cadence; size the floor to their slowest
      // query
      val dirF = new java.io.File(path)
      Option(dirF.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && f.getName.startsWith("_tombstones-") &&
          (tombstoneAgeFloorMs <= 0L ||
            clock() - tombstonePublishedMs(f) >= tombstoneAgeFloorMs))
        .foreach { tf =>
          scala.util.Try(Files.readAllLines(tf.toPath)).toOption.map(_.asScala).getOrElse(Seq.empty)
            .filter(_.nonEmpty).foreach(p => Fs.deleteRecursively(Paths.get(p)))
          Files.deleteIfExists(tf.toPath)
        }
      if (path == runsDir) roll(index.runStore, runRow)
      else if (path == stepsDir) roll(index.stepStore, stepRow)
      else roll(index.logStore, logRow)
    }

  private def roll[A](store: index.Store[A], toRow: A => Row): Unit = {
    val (rolled, rows) = index.snapshot(store)
    if (!rolled.exists(_.endsWith(".json"))) return
    val seg = s"segment-${System.nanoTime}"
    spark.createDataFrame(rows.map(toRow).asJava, store.schema)
      .coalesce(1).write.mode("overwrite").parquet(Paths.get(store.dir, seg).toString)
    // tombstone what this compaction rolled (atomic publish via move).
    // The publish time is stamped from the catalog clock() into the
    // name (`_tombstones-<clockMs>-<nano>`): the age floor must compare
    // clock() against clock(), not against fs mtime — with an injected
    // non-realtime clock the mtime comparison would retain files
    // forever or reap them immediately.
    val tmp = Files.createTempFile(Paths.get(store.dir), "_tomb-tmp", "")
    Files.writeString(tmp, rolled.map(n => Paths.get(store.dir, n).toString).mkString("\n"))
    Files.move(tmp, Paths.get(store.dir, s"_tombstones-${clock()}-${System.nanoTime}"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    index.adopt(store, seg, rows)
  }

  /** Publish time of a tombstone file in the catalog clock()'s frame:
    * the first stamp of `_tombstones-<clockMs>-<nano>`; legacy
    * single-stamp names fall back to fs mtime (wall-clock).
    */
  private def tombstonePublishedMs(f: java.io.File): Long = {
    val stamps = f.getName.stripPrefix("_tombstones-").split("-")
    if (stamps.length >= 2) scala.util.Try(stamps(0).toLong).getOrElse(f.lastModified())
    else f.lastModified()
  }

  /** Force a compaction pass over all three stores (maintenance hook;
    * normally triggered automatically every `compactThreshold` appends).
    */
  def compact(): Unit = Seq(runsDir, stepsDir, logsDir).foreach(compactStore)

  /** Create run header (Running) + one Pending step row per step
    * (reference `orchestrator/index.js:32-51`).
    */
  def startRun(pipelineName: String): String =
    startRunWithSteps(pipelineName, stepNames)

  /** [[startRun]] with caller-named steps — the contract extension
    * that lets a streaming ingest record its funnel stages (quality,
    * dedup, …) through the SAME run/step tables the batch pipeline
    * uses, so `GET /runs/:id` shows one observability surface for
    * both (see [[graft.streaming.StreamingDedupIngest.recordToCatalog]]).
    */
  def startRunWithSteps(pipelineName: String, steps: Seq[String]): String = {
    require(steps.nonEmpty, "a run needs at least one step")
    val runId = UUID.randomUUID().toString
    jsonLines(Seq(writeRun(PipelineRun(runId, nextRunNumber(), pipelineName, "Running", now(), None))), runsDir)
    jsonLines(steps.zipWithIndex.map { case (name, i) =>
      writeStep(StepRun(runId, i + 1, name, "Pending", 0L, None, None, None))
    }, stepsDir)
    runId
  }

  /** Status transition for a step (Pending→Running→Success/Failed).
    * Parquet has no in-place update: transitions append a new row and
    * readers take the latest per (run_id, step_number) — the same
    * read-side resolution a log-structured store does.
    */
  def updateStep(runId: String, stepNumber: Int, status: String,
                 rowsAffected: Long = 0L, error: Option[String] = None): Unit =
    updateStepNamed(runId, stepNumber, stepNames(stepNumber - 1), status,
      rowsAffected, error)

  /** [[updateStep]] for a caller-named step (runs started via
    * [[startRunWithSteps]] — the transition row must carry the same
    * step_name the Pending row declared).
    */
  def updateStepNamed(runId: String, stepNumber: Int, stepName: String,
                      status: String, rowsAffected: Long = 0L,
                      error: Option[String] = None): Unit = {
    val ts = Some(now())
    jsonLines(Seq(writeStep(StepRun(runId, stepNumber, stepName, status, rowsAffected,
      error, if (status == "Running") ts else None,
      if (status == "Success" || status == "Failed" || status == "Cancelled") ts else None))), stepsDir)
  }

  def finishRun(runId: String, status: String): Unit =
    jsonLines(Seq(writeRun(PipelineRun(runId, -1L, "", status, now(), Some(now())))), runsDir)

  def log(runId: String, level: String, stepNumber: Int, message: String,
          details: Option[String] = None): Unit =
    jsonLines(Seq(writeLog(LogEntry(runId, now(), level, stepNumber, message, details))), logsDir)

  // ---- query surface (§2.8) -------------------------------------------
  //
  // Every read resolves through the index. The row methods serve the
  // API; the DataFrame methods wrap the same rows in local relations.

  /** GET /runs — conjunctive equality filters + top-100 newest (O1). */
  def runRows(pipelineName: Option[String] = None, status: Option[String] = None): Seq[PipelineRun] =
    index.listRuns(pipelineName, status, 100)

  /** GET /runs/{id} — one run by id, however old. */
  def run(runId: String): Option[PipelineRun] = index.run(runId)

  /** One run's resolved steps, by step number (O3). */
  def stepRows(runId: String): Seq[StepRun] = index.steps(runId)

  /** GET /logs — filters + capped top-N newest (O2: default 500, max 2000). */
  def logRows(runId: Option[String] = None, level: Option[String] = None,
              limit: Int = 500): Seq[LogEntry] =
    index.logs(runId, level, math.min(limit, 2000))

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  def runs(): DataFrame = frame(index.listRuns(None, None, Int.MaxValue).map(runViewRow), runViewSchema)

  def steps(runId: String): DataFrame = frame(stepRows(runId).map(stepRow), stepsSchema)

  def listRuns(pipelineName: Option[String] = None, status: Option[String] = None): DataFrame =
    frame(runRows(pipelineName, status).map(runViewRow), runViewSchema)

  def listLogs(runId: Option[String] = None, level: Option[String] = None,
               limit: Int = 500): DataFrame =
    frame(logRows(runId, level, limit).map(logRow), logsSchema)

  /** Run detail = header ⊕ steps[] (J2 parent-child assembly). */
  def runDetail(runId: String): DataFrame =
    frame(run(runId).toSeq.map { r =>
      val steps = stepRows(runId).map(s => Row(s.step_number, s.step_name, s.status, s.rows_affected))
      Row.fromSeq(runViewRow(r).toSeq :+ (if (steps.isEmpty) null else steps))
    }, runDetailSchema)

  /** A4 status rollup across steps + C5 timeout sweep predicate. */
  def runStatusRollup(): DataFrame =
    frame(index.allSteps().map { case (id, ss) =>
      val statuses = ss.map(_.status).toSet
      Row(id, ss.flatMap(_.started_at).minOption.orNull, ss.flatMap(_.finished_at).maxOption.orNull,
        Seq("Failed", "Running", "Pending").find(statuses).getOrElse("Success"))
    }, rollupSchema)

  /** C5: mark runs Running for more than `hours` as timed out. Sweeps
    * the runs' non-terminal *steps* too — a driver that died mid-step
    * would otherwise leave a Running step forever under a swept run.
    */
  def sweepTimeouts(hours: Int = 6): Seq[String] = {
    val cutoff = new Timestamp(clock() - hours * 3600L * 1000L)
    val stale = index.listRuns(None, Some("Running"), Int.MaxValue)
      .filter(r => r.started_at != null && r.started_at.before(cutoff)).map(_.run_id)
    stale.foreach { id =>
      finishRun(id, s"Failed-TimeOut-${hours}Hours")
      stepRows(id).filter(s => s.status == "Pending" || s.status == "Running")
        .foreach(s => updateStep(id, s.step_number, "Failed",
          error = Some(s"Swept: run timed out after ${hours}h")))
    }
    stale
  }
}

object RunCatalog {
  val runsSchema: StructType = StructType.fromDDL(
    "run_id STRING, run_number BIGINT, pipeline_name STRING, status STRING, " +
      "started_at TIMESTAMP, finished_at TIMESTAMP")
  val stepsSchema: StructType = StructType.fromDDL(
    "run_id STRING, step_number INT, step_name STRING, status STRING, " +
      "rows_affected BIGINT, error_message STRING, started_at TIMESTAMP, finished_at TIMESTAMP")
  val logsSchema: StructType = StructType.fromDDL(
    "run_id STRING, log_at TIMESTAMP, level STRING, step_number INT, message STRING, details STRING")

  /** A resolved run: header fields, then the final status. */
  val runViewSchema: StructType = StructType.fromDDL(
    "run_id STRING, run_number BIGINT, pipeline_name STRING, started_at TIMESTAMP, " +
      "status STRING, finished_at TIMESTAMP")
  private val runDetailSchema: StructType = StructType.fromDDL(
    "run_id STRING, run_number BIGINT, pipeline_name STRING, started_at TIMESTAMP, " +
      "status STRING, finished_at TIMESTAMP, " +
      "steps ARRAY<STRUCT<step_number: INT, step_name: STRING, status: STRING, rows_affected: BIGINT>>")
  private val rollupSchema: StructType = StructType.fromDDL(
    "run_id STRING, started TIMESTAMP, finished TIMESTAMP, rollup_status STRING")

  // store rows <-> Spark rows (segments and local relations)

  private[catalog] def runRow(r: PipelineRun): Row =
    Row(r.run_id, r.run_number, r.pipeline_name, r.status, r.started_at, r.finished_at.orNull)
  private def runViewRow(r: PipelineRun): Row =
    Row(r.run_id, r.run_number, r.pipeline_name, r.started_at, r.status, r.finished_at.orNull)
  private[catalog] def stepRow(r: StepRun): Row =
    Row(r.run_id, r.step_number, r.step_name, r.status, r.rows_affected,
      r.error_message.orNull, r.started_at.orNull, r.finished_at.orNull)
  private[catalog] def logRow(r: LogEntry): Row =
    Row(r.run_id, r.log_at, r.level, r.step_number, r.message, r.details.orNull)

  private def long(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
  private def int(r: Row, i: Int): Int = if (r.isNullAt(i)) 0 else r.getInt(i)
  private def ts(r: Row, i: Int): Option[Timestamp] = Option(r.getTimestamp(i))

  private[catalog] def readRun(r: Row): PipelineRun = PipelineRun(r.getString(0), long(r, 1),
    r.getString(2), r.getString(3), r.getTimestamp(4), ts(r, 5))
  private[catalog] def readStep(r: Row): StepRun = StepRun(r.getString(0), int(r, 1), r.getString(2),
    r.getString(3), long(r, 4), Option(r.getString(5)), ts(r, 6), ts(r, 7))
  private[catalog] def readLog(r: Row): LogEntry = LogEntry(r.getString(0), r.getTimestamp(1),
    r.getString(2), int(r, 3), r.getString(4), Option(r.getString(5)))

  // store rows -> NDJSON appends (timestamps as ISO-8601 instants)

  private def iso(t: Timestamp): String = java.time.format.DateTimeFormatter.ISO_INSTANT.format(t.toInstant)

  private def writeRun(r: PipelineRun): JsonGenerator => Unit = g => {
    g.writeStartObject()
    g.writeStringField("run_id", r.run_id)
    g.writeNumberField("run_number", r.run_number)
    g.writeStringField("pipeline_name", r.pipeline_name)
    g.writeStringField("status", r.status)
    g.writeStringField("started_at", iso(r.started_at))
    r.finished_at.foreach(t => g.writeStringField("finished_at", iso(t)))
    g.writeEndObject()
  }

  private def writeStep(r: StepRun): JsonGenerator => Unit = g => {
    g.writeStartObject()
    g.writeStringField("run_id", r.run_id)
    g.writeNumberField("step_number", r.step_number)
    g.writeStringField("step_name", r.step_name)
    g.writeStringField("status", r.status)
    g.writeNumberField("rows_affected", r.rows_affected)
    r.error_message.foreach(g.writeStringField("error_message", _))
    r.started_at.foreach(t => g.writeStringField("started_at", iso(t)))
    r.finished_at.foreach(t => g.writeStringField("finished_at", iso(t)))
    g.writeEndObject()
  }

  private def writeLog(r: LogEntry): JsonGenerator => Unit = g => {
    g.writeStartObject()
    g.writeStringField("run_id", r.run_id)
    g.writeStringField("log_at", iso(r.log_at))
    g.writeStringField("level", r.level)
    g.writeNumberField("step_number", r.step_number)
    g.writeStringField("message", r.message)
    r.details.foreach(g.writeStringField("details", _))
    g.writeEndObject()
  }
}
