package graft

import graft.operators.{DiffQueries, Normalize, SnapshotDiff}
import org.apache.spark.sql.functions._

/** Properties of the Merkle bucket-checksum repeat-diff accelerator:
  * pruning is lossless (pruned diff ≡ full diff), actually prunes (the
  * fixture mutations dirty a strict minority of buckets), and the summary
  * of identical snapshots is empty — so `diff(A, A)` never reaches a join.
  */
class MerkleDiffSpec extends SparkTestBase {

  private val t = Tables.part
  private def before = Tables.load(spark, Sf, t.name)
  private def after = DiffQueries.after(spark, Sf, t)

  test("merkle-pruned diff equals the full diff (lossless pruning)") {
    val full = SnapshotDiff.diff(before, after, t.pk)
    val pruned = SnapshotDiff.merklePrunedDiff(before, after, t.pk, DiffQueries.MerkleBuckets)
    val fullRows = full.collect().map(_.toSeq).toSet
    val prunedRows = pruned.collect().map(_.toSeq).toSet
    assert(fullRows.nonEmpty)
    assert(prunedRows == fullRows)
  }

  test("summary dirties a strict minority of populated buckets") {
    val bn = Normalize.withKey(before, t.pk)
    val an = Normalize.withKey(after, t.pk)
    val dirty = SnapshotDiff.merkleSummary(bn, an, DiffQueries.MerkleBuckets).count()
    val populated = bn
      .select(pmod(graft.functions.Hashing.hash64(col(Normalize.KeyCol)),
        lit(DiffQueries.MerkleBuckets.toLong)).as("b"))
      .distinct().count()
    assert(dirty > 0)
    assert(dirty < populated / 2,
      s"pruning should skip most buckets: $dirty dirty of $populated populated")
  }

  test("summary of identical snapshots is empty") {
    val bn = Normalize.withKey(before, t.pk)
    assert(SnapshotDiff.merkleSummary(bn, bn, DiffQueries.MerkleBuckets).isEmpty)
  }

  test("a single-cell change dirties exactly one bucket") {
    val an = Normalize.withKey(
      before.withColumn("p_name",
        when(col("p_partkey") === 1, lit("__changed__")).otherwise(col("p_name"))),
      t.pk)
    val dirty = SnapshotDiff.merkleSummary(Normalize.withKey(before, t.pk), an,
      DiffQueries.MerkleBuckets)
    assert(dirty.count() == 1)
  }

  test("one-winner pruned diff equals one-winner diff on a duplicate-PK table") {
    val li = Tables.lineitem
    val b = Tables.load(spark, Sf, li.name)
    val a = DiffQueries.after(spark, Sf, li)
    val full = SnapshotDiff.diffOneWinner(b, a, li.pk)
      .collect().map(_.toSeq).toSet
    val pruned = SnapshotDiff.diffOneWinnerPrunedEager(b, a, li.pk, 512)
      .collect().map(_.toSeq).toSet
    assert(full.nonEmpty)
    assert(pruned == full)
  }

  test("diff composition populates every class and vanishes insert-then-delete") {
    val d = graft.SparkEntry.queries("diff_compose_chain")(spark, Sf)
      .withColumn("k", col(Normalize.KeyCol).cast("long")).persist()
    // U then U -> net UPDATED
    assert(d.filter(col("k") % 20 === 4 && col("k") < 10000000000L &&
      col("diff_status") === "UPDATED").count() > 0)
    // U then D -> net DELETED
    assert(d.filter(col("k") % 20 === 14 && col("diff_status") === "DELETED").count() > 0)
    // I then D -> absent from the net diff
    assert(d.filter(col("k") >= 10000000000L && col("k") < 20000000000L &&
      col("k") % 20 === 5).isEmpty)
    // I then U -> net INSERTED carrying the final values
    assert(d.filter(col("k") >= 10000000000L && col("k") < 20000000000L &&
      col("k") % 20 === 15 && col("diff_status") === "INSERTED").count() > 0)
    // D then I (different values) -> net UPDATED
    assert(d.filter(col("k") % 30 === 3 && col("diff_status") === "UPDATED").count() > 0)
    d.unpersist()
  }
}
