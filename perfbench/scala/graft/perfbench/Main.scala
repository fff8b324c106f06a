package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Raw observations of one benchmark run, written as JSON for
  * `perfbench/run.py`, which turns them into metrics and checks.
  */
final class Record {
  val setupReps = mutable.ArrayBuffer[Double]()
  val passes = mutable.ArrayBuffer[Double]()
  /** One entry per attempted operation: kind, name, seconds (None when
    * it failed) and the error text. */
  val ops = mutable.ArrayBuffer[Map[String, Any]]()
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Any]]()
  val details = mutable.LinkedHashMap[String, Any]()
  val checks = mutable.ArrayBuffer[Map[String, Any]]()
  val layers = mutable.LinkedHashMap[String, Any]()
  val config = mutable.LinkedHashMap[String, Any]()

  def op(kind: String, name: String, seconds: Option[Double], error: String = null): Unit =
    ops += Map("kind" -> kind, "name" -> name, "s" -> seconds.orNull, "error" -> error)

  def sample(series: String, v: Any): Unit = synchronized {
    samples.getOrElseUpdate(series, mutable.ArrayBuffer()) += v
  }

  def check(name: String, ok: Boolean, detail: Any = null): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case None => null
    case Some(x) => toJava(x)
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case x => x.toString
  }

  def write(path: Path): Unit = {
    val all = mutable.LinkedHashMap[String, Any](
      "config" -> config, "setup_reps_s" -> setupReps, "passes_s" -> passes,
      "ops" -> ops, "samples" -> samples, "details" -> details,
      "checks" -> checks, "layers" -> layers)
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(path.toFile, toJava(all))
  }
}

/** One workload: set-up (repeated, timed), then passes over the inputs
  * until the run's seconds are used, then output checks. With `trace`,
  * it instead measures the per-layer metrics.
  */
trait Workload {
  /** One set-up: fresh state from the inputs plus an untimed warm-up. */
  def setup(spark: SparkSession, rep: Int): Unit
  /** Untimed work once before the timed window, after the set-ups. */
  def prepare(spark: SparkSession): Unit = ()
  /** One timed pass; returns its wall seconds. */
  def pass(spark: SparkSession, i: Int): Double
  /** Output checks, run after the timed window. */
  def check(spark: SparkSession): Unit
  /** Traced run: per-layer metrics into the record's layers. */
  def traced(spark: SparkSession, tracer: Tracer): Unit
}

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val inputs = opts("inputs")
    val work = Paths.get(opts("work"))
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val cpus = Runtime.getRuntime.availableProcessors
    val rec = new Record
    var code = 1
    try {
      val (spark, sessionS) = timed(SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate())
      spark.sparkContext.setLogLevel("ERROR")
      rec.details("session_start_s") = sessionS
      val wl: Workload = name match {
        case "orders_etl" => new OrdersEtl(inputs, work, rec)
        case "corpus_stream" => new CorpusStream(inputs, work, rec)
        case "operator_mix" => new OperatorMix(inputs, work, rec, opts("seed").toLong)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      (0 until SetupReps).foreach { r =>
        rec.setupReps += timed(wl.setup(spark, r))._2
      }
      recordConfig(rec, spark, cpus, opts)
      if (trace) {
        val tracer = new Tracer(spark.sparkContext)
        wl.traced(spark, tracer)
        tracer.close()
        rec.samples("spans") = tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)).to(mutable.ArrayBuffer)
      } else {
        rec.details("prepare_s") = timed(wl.prepare(spark))._2
        val w0 = System.nanoTime()
        var i = 0
        while (i == 0 || (System.nanoTime() - w0) / 1e9 < seconds) {
          rec.passes += wl.pass(spark, i)
          i += 1
        }
        rec.details("window_s") = (System.nanoTime() - w0) / 1e9
        wl.check(spark)
      }
      code = 0
    } catch {
      case e: Throwable =>
        rec.details("fatal") = e.toString
        e.printStackTrace()
    } finally {
      rec.write(work.resolve("record.json"))
    }
    // Explicit exit: ApiServer.stop() leaves its request pool's
    // non-daemon threads running, so a JVM that started the server
    // never ends on its own.
    System.exit(code)
  }

  private def recordConfig(rec: Record, spark: SparkSession, cpus: Int, opts: Map[String, String]): Unit = {
    rec.config("nproc") = cpus
    rec.config("max_heap_bytes") = Runtime.getRuntime.maxMemory
    rec.config("java_version") = System.getProperty("java.version")
    rec.config("spark_version") = spark.version
    rec.config("seed") = opts("seed")
    rec.config("seconds") = opts("seconds")
    Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.session.timeZone",
      "spark.default.parallelism").foreach { k =>
      rec.config(k) = spark.conf.getOption(k).orNull
    }
  }

  /** Wall seconds of `body`. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes and count of the non-hidden files under `dir` whose names end
    * with `suffix` ((0, 0) when `dir` does not exist). */
  def du(dir: Path, suffix: String = ""): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter { p =>
        val name = p.getFileName.toString
        Files.isRegularFile(p) && !name.startsWith(".") && name.endsWith(suffix)
      }.foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally s.close()
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
