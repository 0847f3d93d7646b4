package graft

import graft.plans.GraftZOrder
import graft.sources.Sources
import org.apache.spark.sql.functions._

/** Z-order clustering: key correctness against a naive bit loop, and
  * the layout property that justifies it — file-level min/max footer
  * stats stay selective on BOTH dimensions, where a single-column sort
  * is selective on one and useless on the other. */
class ZOrderSpec extends SparkSpecBase {
  import spark.implicits._

  test("interleave matches a naive bit loop (incl. 32-bit edge values)") {
    def naive(a: Long, b: Long): Long = {
      var out = 0L
      var i = 0
      while (i < 32) {
        out |= ((a >> i) & 1L) << (2 * i)
        out |= ((b >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      out
    }
    val rnd = new scala.util.Random(42)
    val edge = Seq(0L, 1L, 0xFFFFFFFFL, 0x80000000L, 0x55555555L, 0xAAAAAAAAL)
    val cases = edge.flatMap(a => edge.map(a -> _)) ++
      Seq.fill(200)((rnd.nextInt(Int.MaxValue).toLong, rnd.nextInt(Int.MaxValue).toLong))
    cases.foreach { case (a, b) =>
      assert(GraftZOrder.interleave(a, b) == naive(a, b), s"($a, $b)")
    }
    // ordering sanity: z-key is monotone when both dims grow
    assert(GraftZOrder.interleave(1, 1) < GraftZOrder.interleave(2, 2))
  }

  test("z-ordered layout skips files on BOTH dimensions; single-column sort on one") {
    val dir = tempDir("graft-zorder").toString
    val events = Catalog.table(spark, "/root/testdata/sf0.01", "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("day"))
    val nFiles = 16

    Sources.writeZOrdered(events, s"$dir/z", "user_id", "day", nFiles)
    events.withColumn("__s", col("user_id"))
      .repartitionByRange(nFiles, col("__s")).sortWithinPartitions("__s").drop("__s")
      .write.parquet(s"$dir/by_user")

    def overlapping(path: String, column: String, lo: Long, hi: Long): Int =
      Sources.footerLongStats(spark, path, column)
        .count { case (mn, mx) => mx >= lo && mn <= hi }

    val (userLo, userHi) = (10L, 15L) // 6 of 150 users (events hit user_id 0–149)
    val (dayLo, dayHi) = (3L, 5L)     // 3 of ~30 days

    val zUser = overlapping(s"$dir/z", "user_id", userLo, userHi)
    val zDay = overlapping(s"$dir/z", "day", dayLo, dayHi)
    val uUser = overlapping(s"$dir/by_user", "user_id", userLo, userHi)
    val uDay = overlapping(s"$dir/by_user", "day", dayLo, dayHi)

    // user-sorted: perfect on user_id, no skipping at all on day
    assert(uUser <= 2, s"user-sorted user pruning: $uUser")
    assert(uDay == nFiles, s"user-sorted day pruning should be nil: $uDay")
    // z-ordered: skips a substantial fraction of files on EACH dimension
    assert(zUser <= nFiles / 2, s"z-order user pruning too weak: $zUser/$nFiles")
    assert(zDay <= nFiles / 2, s"z-order day pruning too weak: $zDay/$nFiles")
    // correctness: both layouts return identical rows for the rectangle
    val zRows = Sources.readParquet(spark, s"$dir/z")
      .filter(col("user_id").between(userLo, userHi) && col("day").between(dayLo, dayHi))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val uRows = Sources.readParquet(spark, s"$dir/by_user")
      .filter(col("user_id").between(userLo, userHi) && col("day").between(dayLo, dayHi))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(zRows == uRows && zRows.nonEmpty)
  }
}
