package graft.catalog

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.model.{LogEntry, PipelineRun, StepRun}
import graft.util.Json

/** Driver-side index over the catalog's three stores, answering reads
  * from memory: the only Spark job it starts loads a parquet segment
  * the first time it sees one.
  *
  * Store files are immutable: appends are `CREATE_NEW` NDJSON files and
  * segments are never rewritten. So a read lists each store directory
  * (names only) and parses just the files it has not seen: NDJSON on the
  * driver with jackson, a parquet segment once with Spark when it first
  * appears. A file leaves the index when it is deleted or named by a
  * tombstone; that is the only case that rebuilds a store's resolution.
  * Appends by any catalog instance on the directory show up on the next
  * read.
  *
  * An NDJSON file is taken only once it ends with a newline (every
  * append body does), and a segment only once its `_SUCCESS` marker
  * exists, so a read racing a write never caches a partial file.
  *
  * Resolution is the append log's: per key the furthest-progressed
  * status wins (Pending < Running < terminal), then `finished_at` desc
  * nulls last, then `status` desc; runs then break ties by `run_number`
  * desc. The last resort is store position — the file's append stamp,
  * then its name, then the line — newest append winning. Run headers
  * (`run_number` > 0) are deduplicated; runs list newest `started_at`
  * first, then by `run_number` desc; logs newest `log_at` first, then
  * newest append first.
  */
private[catalog] final class CatalogIndex(spark: SparkSession, runsDir: String,
                                          stepsDir: String, logsDir: String) {
  import CatalogIndex._

  // ---- resolved state -------------------------------------------------

  private val headers = mutable.HashMap[String, Keyed[PipelineRun]]()
  private val finals = mutable.HashMap[String, Keyed[PipelineRun]]()
  private val runOrder = new java.util.TreeSet[Keyed[PipelineRun]](newestRunFirst)

  private val stepsByRun = mutable.HashMap[String, mutable.HashMap[Int, Keyed[StepRun]]]()

  private val allLogs = new Ascending
  private val logsByRun = mutable.HashMap[String, Ascending]()

  private def addRun(k: Keyed[PipelineRun]): Unit = {
    val id = k.row.run_id
    if (k.row.run_number > 0 && !headers.contains(id)) {
      headers(id) = k
      runOrder.add(k)
    }
    if (finals.get(id).forall(runResolution.gt(k, _))) finals(id) = k
  }

  private def addStep(k: Keyed[StepRun]): Unit = {
    val perRun = stepsByRun.getOrElseUpdate(k.row.run_id, mutable.HashMap())
    if (perRun.get(k.row.step_number).forall(stepResolution.gt(k, _))) perRun(k.row.step_number) = k
  }

  private def addLog(k: Keyed[LogEntry]): Unit = {
    allLogs.add(k)
    logsByRun.getOrElseUpdate(k.row.run_id, new Ascending).add(k)
  }

  val runStore = new Store(runsDir, RunCatalog.runsSchema, parseRun, r => shareRun(RunCatalog.readRun(r)),
    () => { headers.clear(); finals.clear(); runOrder.clear() }, addRun)
  val stepStore = new Store(stepsDir, RunCatalog.stepsSchema, parseStep, r => shareStep(RunCatalog.readStep(r)),
    () => stepsByRun.clear(), addStep)
  val logStore = new Store(logsDir, RunCatalog.logsSchema, parseLog, r => shareLog(RunCatalog.readLog(r)),
    () => { allLogs.clear(); logsByRun.clear() }, addLog)

  // ---- reads ----------------------------------------------------------

  private def resolved(h: Keyed[PipelineRun]): PipelineRun = {
    val f = finals(h.row.run_id).row
    h.row.copy(status = f.status, finished_at = f.finished_at)
  }

  /** Runs newest first, filtered, at most `limit`. */
  def listRuns(pipelineName: Option[String], status: Option[String], limit: Int): Seq[PipelineRun] =
    synchronized {
      runStore.sync()
      runOrder.iterator().asScala.map(resolved)
        .filter(r => pipelineName.forall(_ == r.pipeline_name) && status.forall(_ == r.status))
        .take(limit).toVector
    }

  def run(runId: String): Option[PipelineRun] = synchronized {
    runStore.sync()
    headers.get(runId).map(resolved)
  }

  /** One run's resolved steps by step number. */
  def steps(runId: String): Seq[StepRun] = synchronized {
    stepStore.sync()
    stepsByRun.get(runId).map(_.values.map(_.row).toVector.sortBy(_.step_number)).getOrElse(Vector.empty)
  }

  /** Every run's resolved steps (unordered runs, ordered steps). */
  def allSteps(): Seq[(String, Seq[StepRun])] = synchronized {
    stepStore.sync()
    stepsByRun.iterator.map { case (id, m) => id -> m.values.map(_.row).toVector.sortBy(_.step_number) }.toVector
  }

  /** Logs newest first, filtered, at most `limit`. */
  def logs(runId: Option[String], level: Option[String], limit: Int): Seq[LogEntry] = synchronized {
    logStore.sync()
    val src = runId match {
      case Some(id) => logsByRun.get(id).map(_.newestFirst).getOrElse(Iterator.empty)
      case None => allLogs.newestFirst
    }
    src.map(_.row).filter(l => level.forall(_ == l.level)).take(math.max(limit, 0)).toVector
  }

  // ---- compaction support ---------------------------------------------

  /** The names of every file `store` currently holds and their rows in
    * store order (what a compaction rolls into one segment). */
  def snapshot[A](store: Store[A]): (Seq[String], Seq[A]) = synchronized {
    store.sync()
    (store.names, store.all.map(_.row))
  }

  /** Record a segment this catalog just wrote from `rows`, so no read
    * has to load it back. The files it rolled leave on the next sync
    * (their tombstone is already published). */
  def adopt[A](store: Store[A], segment: String, rows: Seq[A]): Unit = synchronized {
    store.put(segment, rows)
  }

  /** Rows in `log_at` then store order, sorted lazily: appends arrive
    * almost always in order, so a sort is rare and near-linear. */
  private final class Ascending {
    private val buf = mutable.ArrayBuffer[Keyed[LogEntry]]()
    private var sorted = true
    def add(k: Keyed[LogEntry]): Unit = {
      if (buf.nonEmpty && logOrder.lt(k, buf.last)) sorted = false
      buf += k
    }
    def clear(): Unit = { buf.clear(); sorted = true }
    def newestFirst: Iterator[Keyed[LogEntry]] = {
      if (!sorted) { buf.sortInPlace()(logOrder); sorted = true }
      buf.reverseIterator
    }
  }

  /** One store directory: the rows of every live file, by file name,
    * folded into the resolved state by `add` (`reset` clears that state
    * before a rebuild). */
  final class Store[A](val dir: String, val schema: StructType, parse: JsonNode => A, read: Row => A,
                       reset: () => Unit, add: Keyed[A] => Unit) {
    private val files = mutable.HashMap[String, Array[Keyed[A]]]()
    // tombstone file name → names of the files it rolled (immutable
    // files, so each is read once)
    private val tombstones = mutable.HashMap[String, Set[String]]()
    private var dead = Set.empty[String]

    def names: Seq[String] = files.keys.toVector

    /** Every row, in store order. */
    def all: Seq[Keyed[A]] = files.values.flatten.toVector.sorted(storeOrder[A])

    def put(name: String, rows: Seq[A]): Unit = {
      val src = Src(name)
      files(name) = rows.iterator.zipWithIndex.map { case (r, i) => new Keyed(r, src, i) }.toArray
    }

    /** Bring `files` in line with the directory, folding newly taken
      * files in store order, or rebuilding when any file left. */
    def sync(): Unit = {
      val listed = Option(new File(dir).list()).getOrElse(Array.empty[String])
      val tombNames = listed.filter(_.startsWith("_tombstones-")).toSet
      if (tombNames != tombstones.keySet) {
        tombstones.filterInPlace((n, _) => tombNames(n))
        tombNames.diff(tombstones.keySet).foreach { n =>
          Try(Files.readAllLines(Paths.get(dir, n)).asScala.filter(_.nonEmpty)
            .map(p => Paths.get(p).getFileName.toString).toSet).foreach(tombstones(n) = _)
        }
        dead = tombstones.valuesIterator.flatten.toSet
      }
      val live = listed.filter(n => (n.endsWith(".json") || n.startsWith("segment-")) && !dead(n)).toSet
      val gone = files.keysIterator.filterNot(live).toVector
      gone.foreach(files.remove)
      val added = live.diff(files.keySet).toVector.flatMap { n =>
        load(n).map { rows => put(n, rows); files(n) }.getOrElse(Array.empty[Keyed[A]])
      }
      if (gone.nonEmpty) { reset(); all.foreach(add) }
      else added.sorted(storeOrder[A]).foreach(add)
    }

    /** A file's rows, or None while it is incomplete or unreadable. */
    private def load(name: String): Option[Seq[A]] = {
      val path = Paths.get(dir, name)
      if (name.endsWith(".json")) {
        Try(Files.readAllBytes(path)).toOption
          .filter(b => b.nonEmpty && b.last == '\n')
          .map(b => new String(b, StandardCharsets.UTF_8).split('\n').toSeq
            .filter(_.nonEmpty).flatMap(l => Try(parse(Json.mapper.readTree(l))).toOption))
      } else if (Files.exists(path.resolve("_SUCCESS"))) {
        Try(spark.read.schema(schema).parquet(path.toString).collect().toSeq.map(read)).toOption
      } else None
    }
  }
}

private[catalog] object CatalogIndex {

  /** Where a row sits in the store: its file's append stamp (the
    * `System.nanoTime` in `append-<n>-…` / `segment-<n>`), then the
    * file name, then the line. */
  final case class Src(name: String) {
    val stamp: Long = Try(name.split('-')(1).stripSuffix(".json").toLong).getOrElse(0L)
  }

  final class Keyed[A](val row: A, val src: Src, val line: Int) {
    def pos: (Long, String, Int) = (src.stamp, src.name, line)
  }

  def storeOrder[A]: Ordering[Keyed[A]] = Ordering.by(_.pos)

  private def rank(status: String): Int = status match {
    case "Pending" => 0
    case "Running" => 1
    case _ => 2
  }

  // orderings are ascending with nulls (None) first, so the greatest
  // element is the one a descending, nulls-last sort puts first
  private implicit val timestampOrder: Ordering[Timestamp] = _ compareTo _

  /** Per key, the greatest row is the resolved one. */
  val runResolution: Ordering[Keyed[PipelineRun]] = Ordering.by((k: Keyed[PipelineRun]) =>
    (rank(k.row.status), k.row.finished_at, Option(k.row.status), k.row.run_number, k.pos))
  val stepResolution: Ordering[Keyed[StepRun]] = Ordering.by((k: Keyed[StepRun]) =>
    (rank(k.row.status), k.row.finished_at, Option(k.row.status), k.pos))

  /** `started_at` desc nulls last, `run_number` desc, then run id (so
    * distinct runs never compare equal). */
  val newestRunFirst: Ordering[Keyed[PipelineRun]] = Ordering.by((k: Keyed[PipelineRun]) =>
    (Option(k.row.started_at), k.row.run_number, Option(k.row.run_id))).reverse

  val logOrder: Ordering[Keyed[LogEntry]] =
    Ordering.by((k: Keyed[LogEntry]) => (Option(k.row.log_at), k.pos))

  // ---- NDJSON rows ------------------------------------------------------

  private def text(n: JsonNode, f: String): String = {
    val v = n.get(f)
    if (v == null || v.isNull) null else v.asText()
  }

  // every row repeats its run id and a handful of names: one shared
  // copy each keeps the index near a third of its unshared size
  private def shared(s: String): String = if (s == null) null else s.intern()

  private def num(n: JsonNode, f: String): Long = {
    val v = n.get(f)
    if (v == null || v.isNull) 0L else v.asLong()
  }

  private def ts(n: JsonNode, f: String): Option[Timestamp] =
    Option(text(n, f)).flatMap(s => Try(Timestamp.from(java.time.OffsetDateTime.parse(s).toInstant)).toOption)

  def parseRun(n: JsonNode): PipelineRun = shareRun(PipelineRun(text(n, "run_id"), num(n, "run_number"),
    text(n, "pipeline_name"), text(n, "status"), ts(n, "started_at").orNull, ts(n, "finished_at")))

  def parseStep(n: JsonNode): StepRun = shareStep(StepRun(text(n, "run_id"), num(n, "step_number").toInt,
    text(n, "step_name"), text(n, "status"), num(n, "rows_affected"), Option(text(n, "error_message")),
    ts(n, "started_at"), ts(n, "finished_at")))

  def parseLog(n: JsonNode): LogEntry = shareLog(LogEntry(text(n, "run_id"), ts(n, "log_at").orNull,
    text(n, "level"), num(n, "step_number").toInt, text(n, "message"), Option(text(n, "details"))))

  def shareRun(r: PipelineRun): PipelineRun =
    r.copy(run_id = shared(r.run_id), pipeline_name = shared(r.pipeline_name), status = shared(r.status))
  def shareStep(r: StepRun): StepRun =
    r.copy(run_id = shared(r.run_id), step_name = shared(r.step_name), status = shared(r.status))
  def shareLog(r: LogEntry): LogEntry =
    r.copy(run_id = shared(r.run_id), level = shared(r.level), message = shared(r.message))
}
