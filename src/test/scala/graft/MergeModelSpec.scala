package graft

import scala.collection.mutable

import graft.merge.MergeWriter

/** Model-based property test of the merge semantic matrix: random
  * action batches (plain upsert, partial-column update, conditional
  * update, CDC tombstones, full-snapshot sync) are applied both to a
  * real bucketed target and to an in-memory reference model
  * implementing the DOCUMENTED semantics; after every merge the target
  * state and the returned rows_affected must match the model exactly.
  *
  * This pins the whole routing matrix in [[MergeWriter.mergeLocked]]
  * (full SET * coalesce vs partial assignment vs condition guard vs
  * tombstone vs sync drop, per column) against an independent
  * implementation — a single wrong branch in the join projection
  * surfaces as a state divergence within a few batches.
  */
class MergeModelSpec extends SparkSpec {
  import spark.implicits._

  // one target row: v (nullable string), w (nullable long)
  private case class S(v: Option[String], w: Option[Long])
  // one source row + its per-batch flags
  private case class R(k: Long, v: Option[String], w: Option[Long],
                       del: Boolean, updOk: Boolean)

  private sealed trait Mode
  private case object Plain extends Mode            // UPDATE SET * / INSERT *
  private case object Partial extends Mode          // SET w = w (v keeps target)
  private case object Conditional extends Mode      // SET * guarded by updOk
  private case object WithDeletes extends Mode      // tombstones + SET *
  private case object Sync extends Mode             // SET * + sync delete
  private case object Combined extends Mode         // tombstones + guarded partial SET

  test("random action batches: target state and rows_affected match the model") {
    val rnd = new scala.util.Random(20260813L)
    val dir = java.nio.file.Files.createTempDirectory("merge_model").toString
    val model = mutable.Map.empty[Long, S]

    def randomRow(mode: Mode): R = R(
      k = 1L + rnd.nextInt(12),
      v = if (rnd.nextInt(6) == 0) None else Some("v" + rnd.nextInt(100)),
      w = if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(1000).toLong),
      del = (mode == WithDeletes || mode == Combined) && rnd.nextInt(3) == 0,
      updOk = rnd.nextBoolean())

    def applyModel(mode: Mode, batch: Seq[R]): Long = {
      // last-wins dedup on the key (source order = list order)
      val deduped = batch.zipWithIndex.groupBy(_._1.k).values
        .map(_.maxBy(_._2)._1).toSeq.sortBy(_.k)
      var actions = 0L
      if (mode == Sync) {
        val keep = deduped.map(_.k).toSet
        val stale = model.keySet.filterNot(keep).toSeq
        stale.foreach(model.remove)
        actions += stale.size
      }
      deduped.foreach { r =>
        (model.get(r.k), r.del) match {
          case (Some(_), true) => model.remove(r.k); actions += 1
          case (None, true) => // unmatched tombstone: no action
          case (None, false) => model(r.k) = S(r.v, r.w); actions += 1
          case (Some(old), false) => mode match {
            case Conditional | Combined if !r.updOk => // guard off: byte-identical row
            case Partial | Combined =>
              // assigned column takes the carrier value verbatim (null
              // included); unassigned columns keep the target's
              model(r.k) = S(old.v, r.w); actions += 1
            case _ =>
              // full SET *: per-column coalesce(source, target)
              model(r.k) = S(r.v.orElse(old.v), r.w.orElse(old.w)); actions += 1
          }
        }
      }
      actions
    }

    def runReal(mode: Mode, batch: Seq[R]): Long = {
      val dropCols = mode match {
        case WithDeletes => Seq("upd_ok")
        case Conditional => Seq("is_del")
        case Combined => Seq.empty
        case _ => Seq("is_del", "upd_ok")
      }
      val df = batch.zipWithIndex
        .map { case (r, i) => (r.k, r.v.orNull, r.w, i, r.del, r.updOk) }
        .toDF("k", "v", "w", "ord", "is_del", "upd_ok")
        .drop(dropCols: _*)
      MergeWriter.mergeByKeys(spark, dir, df, Seq("k"), "ord", buckets = 4,
        deleteCol =
          if (mode == WithDeletes || mode == Combined) Some("is_del") else None,
        updateCols =
          if (mode == Partial || mode == Combined) Some(Seq("w" -> "w")) else None,
        updateCondCol =
          if (mode == Conditional || mode == Combined) Some("upd_ok") else None,
        syncDelete = mode == Sync)
    }

    def realState(): Map[Long, S] =
      MergeWriter.readTarget(spark, dir).get
        .select($"k", $"v", $"w")
        .as[(Long, Option[String], Option[Long])].collect()
        .map { case (k, v, w) => k -> S(v, w) }.toMap

    val modes = Seq(Plain, Partial, Conditional, WithDeletes, Sync, Combined)
    for (round <- 1 to 30) {
      val mode = modes(rnd.nextInt(modes.length))
      val batch = Seq.fill(3 + rnd.nextInt(6))(randomRow(mode))
      val expected = applyModel(mode, batch)
      val affected = runReal(mode, batch)
      assert(affected == expected,
        s"round $round ($mode): rows_affected $affected != model $expected")
      assert(realState() == model.toMap,
        s"round $round ($mode): target state diverged from the model")
    }
  }

  test("bucketed snapshot write emits exactly one file per bucket") {
    val spark2 = spark; import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("merge_files").toString
    // many input partitions: without the pre-write bucket repartition
    // every task writes its own file into every bucket directory it
    // holds rows of (tasks × buckets small files)
    val df = (1L to 2000L).map(k => (k, s"v$k", k, k))
      .toDF("k", "v", "w", "ord").repartition(8)
    MergeWriter.mergeByKeys(spark, dir, df, Seq("k"), "ord", buckets = 4)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    val bucketDirs = walk.iterator()
    var seen = 0
    val it = new Iterator[java.nio.file.Path] {
      def hasNext = bucketDirs.hasNext; def next() = bucketDirs.next()
    }
    try it.filter(p => p.getFileName.toString.startsWith("_bucket="))
      .foreach { b =>
        seen += 1
        val files = java.nio.file.Files.list(b).iterator()
        var n = 0
        while (files.hasNext) {
          if (files.next().getFileName.toString.endsWith(".parquet")) n += 1
        }
        assert(n == 1, s"bucket dir $b holds $n parquet files, expected 1")
      }
    finally walk.close()
    assert(seen == 4, s"expected 4 bucket dirs, saw $seen")
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("snapshotDiff classifies inserts/deletes/updates, drops unchanged, null-safe") {
    import graft.merge.SnapshotDiff
    val spark2 = spark; import spark2.implicits._
    val v1 = Seq(
      (1L, Some("a"), 10L), (2L, Some("b"), 20L), (3L, Some("c"), 30L),
      (4L, None: Option[String], 40L))
      .toDF("k", "s", "v")
    val v2 = Seq(
      (1L, Some("a"), 10L),                       // unchanged → absent
      (2L, Some("B"), 21L),                       // update, 2 cols
      (4L, Some("now"), 40L),                     // NULL→value IS a change
      (5L, Some("e"), 50L))                       // insert; 3 deleted
      .toDF("k", "s", "v")
    val out = SnapshotDiff.diff(v1, v2, Seq("k"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out == Map(
      2L -> (("update", 2L)),
      3L -> (("delete", 2L)),
      4L -> (("update", 1L)),
      5L -> (("insert", 2L))), out.toString)
    // identical snapshots diff to empty; partitioning changes nothing
    assert(SnapshotDiff.diff(v1, v1, Seq("k")).count() == 0L)
    val out2 = SnapshotDiff.diff(v1.repartition(5), v2.repartition(3), Seq("k"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out2 == out)
    // mismatched schemas are refused loudly
    intercept[IllegalArgumentException] {
      SnapshotDiff.diff(v1, v2.withColumnRenamed("v", "w"), Seq("k"))
    }
  }
}
