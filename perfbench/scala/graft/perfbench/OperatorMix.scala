package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.util.CacheScope

/** Operator-family query mix: oracle-checked `SparkEntry.queries` in a
  * seeded order, each timed through the full physical plan. A timed
  * pass runs [[OperatorMix.Timed]] and checks their results; the traced
  * run profiles all of [[OperatorMix.Families]].
  */
final class OperatorMix(inputs: String, work: Path, rec: Record, seed: Long) extends Workload {
  private val tables = s"$inputs/tables"
  private val family: Map[String, String] = OperatorMix.Families.flatMap {
    case (f, names) => names.map(_ -> f)
  }.toMap
  private val all = OperatorMix.Families.flatMap(_._2)

  /** Materializes the whole plan, as `graft.Bench` times a query. */
  private def run(spark: SparkSession, name: String): Unit =
    CacheScope.loan(SparkEntry.queries(name)(spark, tables).queryExecution.toRdd.count()): Unit

  def setup(spark: SparkSession, rep: Int): Unit =
    OperatorMix.Warm.foreach(run(spark, _))

  private def order(names: Seq[String], i: Int): Seq[String] =
    new scala.util.Random(seed * 1000 + i).shuffle(names)

  /** Before the timed window, each timed query runs once untimed and
    * writes its result for the oracle check. A query's first execution
    * (plan compile, code generation, JIT) costs ~1.5× a later one and
    * swung up to 2× with host load, so only later executions are timed. */
  override def prepare(spark: SparkSession): Unit =
    OperatorMix.Timed.foreach { name =>
      try writeResult(spark, name)
      catch { case e: Throwable => rec.check(s"oracle_$name", ok = false, e.toString) }
    }

  def pass(spark: SparkSession, i: Int): Double = {
    var timedSum = 0.0
    order(OperatorMix.Timed, i).foreach { name =>
      try {
        val t = Main.timed(run(spark, name))._2
        rec.op(family(name), name, Some(t))
        timedSum += t
      } catch { case e: Throwable => rec.op(family(name), name, None, e.toString) }
    }
    timedSum
  }

  private def writeResult(spark: SparkSession, name: String): Unit =
    CacheScope.loan(SparkEntry.queries(name)(spark, tables).coalesce(1)
      .write.mode("overwrite").parquet(work.resolve("results").resolve(name).toString))

  /** The oracle SQL of the timed queries, for run.py's DuckDB compare of
    * the results [[prepare]] wrote. */
  def check(spark: SparkSession): Unit = {
    val sql = SparkEntry.oracleSql.filter { case (k, _) => OperatorMix.Timed.contains(k) }
    Files.createDirectories(work.resolve("results"))
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(work.resolve("results").resolve("oracle_sql.json").toFile, sql.asJava)
  }

  /** Traces every query of the mix. Each query first runs once
    * untimed, so the traced execution is a warm one. A timed query then
    * runs once more untraced; the tracing overhead compares those
    * executions with their traced ones. */
  def traced(spark: SparkSession, tr: Tracer): Unit = {
    var untraced, traced = 0.0
    order(all, 1).foreach { name =>
      val layer = s"q.$name"
      try {
        tr.close()
        rec.op(family(name), name, Some(Main.timed(run(spark, name))._2))
        spark.sparkContext.addSparkListener(tr.listener)
        tr.span(layer, layer)(run(spark, name))
        val c = tr.counts(layer)
        val L = rec.layers
        L(s"$layer.s") = tr.durations(layer).head
        L(s"$layer.jobs") = c.jobs.toDouble
        L(s"$layer.task_cpu_s") = c.taskCpuS
        L(s"$layer.shuffle_bytes") = c.shuffleBytes.toDouble
        L(s"$layer.max_task_share") = c.maxTaskShare
        if (OperatorMix.Timed.contains(name)) {
          tr.close()
          untraced += Main.timed(run(spark, name))._2
          traced += tr.durations(layer).head
        }
      } catch { case e: Throwable => rec.op(family(name), name, None, e.toString) }
    }
    rec.layers("trace.overhead_pct") = 100 * (traced - untraced) / untraced
  }
}

object OperatorMix {
  /** The mix, by operator family; every query is hash-checked against
    * its DuckDB oracle. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "graph" -> Seq("q_hits", "q_cc_bigstar", "q_label_prop", "q_kcore", "q_pagerank"),
    "merge" -> Seq("q_merge_sql", "q_merge_composite", "q_merge_delete"),
    "text" -> Seq("q_curation_pipeline", "q_retrieval_metrics", "q_label_noise"),
    "relational" -> Seq("q1_agg", "q_join_agg", "q_assoc_rules"))

  /** A timed pass. The merge family is left to `orders_etl`, whose
    * upserts load `MergeWriter` harder, and to the traced profile: each
    * timed query costs two executions, and a fourth did not fit a run. */
  val Timed: Seq[String] = Seq("q_kcore", "q_label_noise", "q_join_agg")

  /** Untimed warm-up in each set-up. */
  val Warm: Seq[String] = Seq("q1_agg")
}
