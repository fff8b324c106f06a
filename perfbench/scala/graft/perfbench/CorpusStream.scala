package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.streaming.StreamingDedupIngest
import graft.util.Fs

/** Streaming dedup ingest: the corpus in seeded micro-batches through
  * `StreamingDedupIngest.processBatch` with fresh state per pass. The
  * persistent band index grows during the pass and is compacted every
  * [[CorpusStream.CompactEvery]] batches; those batches are the tail.
  */
final class CorpusStream(inputs: String, work: Path, rec: Record) extends Workload {
  private val Threshold = 0.5
  private var docs: DataFrame = _
  private var batches: Seq[(Long, DataFrame)] = Nil
  private var nDocs = 0L

  private def load(spark: SparkSession): Unit = {
    docs = spark.read.parquet(s"$inputs/stream/docs.parquet").cache()
    nDocs = docs.count()
    val ids = docs.select("batch").distinct().collect().map(_.getLong(0)).sorted
    batches = ids.toSeq.map(b => b -> docs.filter(col("batch") === b).select(col("doc_id"), col("text")))
  }

  private def ingest(spark: SparkSession, root: Path) =
    new StreamingDedupIngest(spark, root.toString, simThreshold = Threshold,
      compactEvery = CorpusStream.CompactEvery)

  private def compacts(b: Long) = b > 0 && b % CorpusStream.CompactEvery == 0

  def setup(spark: SparkSession, rep: Int): Unit = {
    if (docs == null) load(spark)
    val root = work.resolve(s"setup$rep")
    val ing = ingest(spark, root)
    // four batches: the second probes the band index, the fourth
    // compacts it, so every code path of a pass has run before it
    try batches.take(CorpusStream.CompactEvery + 1).foreach { case (b, df) => ing.processBatch(df, b) }
    finally Fs.deleteRecursively(root)
  }

  /** The admitted ids of a finished ingest, for run.py's checks against
    * the duplicate pairs the generator planted. */
  private def recordAdmitted(ing: StreamingDedupIngest): Long = {
    val ids = ing.admitted().map(_.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
      .getOrElse(Nil)
    rec.sample("stream", Map("input" -> nDocs, "admitted_ids" -> ids))
    ids.size
  }

  def pass(spark: SparkSession, i: Int): Double = {
    val root = work.resolve(s"pass$i")
    val ing = ingest(spark, root)
    try {
      val t0 = System.nanoTime()
      batches.foreach { case (b, df) =>
        val (_, t) = Main.timed(ing.processBatch(df, b))
        rec.op(if (compacts(b)) "compact_batch" else "batch", s"batch_$b", Some(t))
      }
      val total = (System.nanoTime() - t0) / 1e9
      recordAdmitted(ing)
      total
    } finally Fs.deleteRecursively(root)
  }

  def check(spark: SparkSession): Unit = ()

  /** Traces one pass. An untraced ingest of its own processes each
    * batch just before the traced one, so both see the same JVM warmth;
    * the difference is the tracing overhead. */
  def traced(spark: SparkSession, tr: Tracer): Unit = {
    val root = work.resolve("traced")
    val ing = ingest(spark, root)
    val plain = ingest(spark, work.resolve("untraced"))
    try {
      val per = batches.map { case (b, df) =>
        tr.close()
        val untraced = Main.timed(plain.processBatch(df, b))._2
        rec.op(if (compacts(b)) "compact_batch" else "batch", s"batch_$b", Some(untraced))
        spark.sparkContext.addSparkListener(tr.listener)
        val name = if (compacts(b)) "streaming.compact_batch" else "streaming.batch"
        tr.span(name, "streaming")(ing.processBatch(df, b))
        val c = tr.counts("streaming")
        // the signature + band-key step alone, as its own call
        tr.span("dedup.signature", "dedup") {
          Dedup.bandKeys(Dedup.minhashSignatures(df, "doc_id", "text"), "doc_id")
            .queryExecution.toRdd.count()
        }
        tr.counts("dedup")
        (c, untraced)
      }
      val (indexBytes, _) = Main.du(root.resolve("band_index"))
      val leaves = Option(root.resolve("band_index").toFile.listFiles()).getOrElse(Array.empty)
        .count(_.getName.startsWith("batch_id="))
      val admitted = recordAdmitted(ing)
      val traced = tr.durations("streaming.batch").sum + tr.durations("streaming.compact_batch").sum
      val untraced = per.map(_._2).sum
      val L = rec.layers
      L("streaming.batch_s") = Main.median(tr.durations("streaming.batch"))
      L("streaming.compact_batch_s") = Main.median(tr.durations("streaming.compact_batch"))
      L("streaming.jobs_per_batch") = Main.median(per.map(_._1.jobs.toDouble))
      L("streaming.shuffle_bytes_per_batch") = Main.median(per.map(_._1.shuffleBytes.toDouble))
      L("streaming.index_bytes") = indexBytes.toDouble
      L("streaming.index_leaves") = leaves.toDouble
      L("streaming.admit_ratio") = admitted.toDouble / nDocs
      L("dedup.signature_s") = Main.median(tr.durations("dedup.signature"))
      L("trace.overhead_pct") = 100 * (traced - untraced) / untraced
    } finally {
      Fs.deleteRecursively(root)
      Fs.deleteRecursively(work.resolve("untraced"))
    }
  }
}

object CorpusStream {
  /** Index compaction cadence, in batches: a pass of eight batches
    * compacts twice. */
  val CompactEvery = 3
}
