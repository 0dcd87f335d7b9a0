package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.ScaleOps

class ScaleOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("globalRank equals a global window row_number, without one") {
    val df = Seq(30L, 5L, 17L, 2L, 99L, 41L, 8L, 63L).toDF("v")
      .repartition(4)
    val got = ScaleOps.globalRank(df, Seq(col("v")))
      .select("v", "_rank").as[(Long, Long)].collect().toMap
    val want = Seq(2L, 5L, 8L, 17L, 30L, 41L, 63L, 99L)
      .zipWithIndex.map { case (v, i) => v -> (i + 1L) }.toMap
    assert(got == want)
    // the plan must not contain a partition-less (global) window sort:
    // every Window's partition spec is the _pid column
    val plan = ScaleOps.globalRank(df, Seq(col("v")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition(v#"),
      s"global window detected:\n$plan")
  }

  test("globalRank breaks ties by the trailing tie-breaker column") {
    val df = Seq((1L, 10L), (1L, 3L), (0L, 7L), (1L, 1L))
      .toDF("k", "id").repartition(3)
    val got = ScaleOps.globalRank(df, Seq(col("k"), col("id")))
      .select("id", "_rank").as[(Long, Long)].collect().toMap
    assert(got == Map(7L -> 1L, 1L -> 2L, 3L -> 3L, 10L -> 4L))
  }

  test("zoneMapAudit: hand-computed blocks on a crafted layout") {
    // 8 rows, blocks of 4, values 0..7; clustered layout: block 0 holds
    // 0-3, block 1 holds 4-7; predicate [2,5] touches both blocks but a
    // shuffled layout can't skip either — counts are exact either way
    val clustered = (0L to 7L).toDF("v")
    val a = ScaleOps.zoneMapAudit(clustered, "clustered", Seq(col("v")),
      col("v"), 2L, 5L, 4L).head()
    assert(a.getString(0) == "clustered")
    assert(a.getLong(1) == 8L)   // n_rows
    assert(a.getLong(2) == 2L)   // n_blocks
    assert(a.getLong(3) == 2L)   // blocks_scanned ([0,3] and [4,7] both hit)
    assert(a.getLong(4) == 8L)   // rows_scanned
    assert(a.getLong(5) == 4L)   // rows_matched (2,3,4,5)
    // narrow predicate [0,1]: only block 0 scans
    val b = ScaleOps.zoneMapAudit(clustered, "clustered", Seq(col("v")),
      col("v"), 0L, 1L, 4L).head()
    assert(b.getLong(3) == 1L && b.getLong(4) == 4L && b.getLong(5) == 2L)
    // interleaved layout (order by v % 2, v): every block spans the full
    // value range -> zero skipping for [0,1]
    val c = ScaleOps.zoneMapAudit(clustered, "interleaved",
      Seq(col("v") % 2, col("v")), col("v"), 0L, 1L, 4L).head()
    assert(c.getLong(3) == 2L && c.getLong(4) == 8L && c.getLong(5) == 2L)
  }

  test("zoneMapAudit matches a driver-side brute force on random layouts") {
    val rnd = new scala.util.Random(99)
    for (_ <- 0 until 3) {
      val vs = Seq.fill(40)(rnd.nextInt(100).toLong)
        .zipWithIndex.map { case (v, i) => (v, i.toLong) }
      val (lo, hi) = (20L, 60L)
      val block = 8L
      val sorted = vs.sortBy(identity).map(_._1)
      val blocks = sorted.grouped(block.toInt).toSeq
      val scanned = blocks.filter(b => b.min <= hi && b.max >= lo)
      val expected = (vs.size.toLong, blocks.size.toLong,
        scanned.size.toLong, scanned.map(_.size.toLong).sum,
        sorted.count(v => v >= lo && v <= hi).toLong)
      val got = ScaleOps.zoneMapAudit(vs.toDF("v", "id"), "t",
          Seq(col("v"), col("id")), col("v"), lo, hi, block).head()
      assert((got.getLong(1), got.getLong(2), got.getLong(3),
        got.getLong(4), got.getLong(5)) == expected)
    }
  }

  test("bloomSkippingAudit: hand-computed bits, present and absent probes") {
    // 4 rows, one block: values 10, 20, 30, 40; probe 20 present ->
    // bloom passes, zone passes; probe 25 absent but inside [10,40] ->
    // zone scans, bloom (almost surely) skips — verify exactly by
    // computing the bits: h(25) = {25, 782}, none of the rows hashes to
    // both words/bits of 25
    val df = Seq(10L, 20L, 30L, 40L).toDF("v")
    val out = ScaleOps.bloomSkippingAudit(df, Seq(col("v")), col("v"),
        probes = Seq(20L, 25L), blockRows = 4L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(20L) == ((1L, 1L, 1L, 1L)))
    // row hashes: v and 31v+7 mod 2520 = {10,317},{20,627},{30,937},
    // {40,1247}; probe 25 needs bits 25 and 782 — absent
    assert(out(25L) == ((1L, 0L, 1L, 0L)))
  }

  test("shardRebalanceAudit matches a driver reference; ring only moves to the new shard") {
    import graft.operators.ScaleOps.rebalanceHash
    val p = 1000000007L
    val vn = 8
    def ring(shards: Int): Seq[(Long, Long)] =
      for (s <- 0 until shards; t <- 0 until vn)
        yield (rebalanceHash(s.toLong * 100003L + t.toLong * 7919L),
          s.toLong)
    def owner(h: Long, r: Seq[(Long, Long)]): Long =
      r.map { case (pos, s) => ((pos - h + p) % p, s) }.min._2
    val keys = (0L until 500L).toSeq
    val hs = keys.map(rebalanceHash)
    val movedMod = hs.count(h => h % 4 != h % 5)
    val before = ring(4); val after = ring(5)
    val ringOwners = hs.map(h => (owner(h, before), owner(h, after)))
    val movedRing = ringOwners.count { case (a, b) => a != b }
    // the defining property of consistent hashing: every moved key is
    // claimed by the NEW shard — nothing reshuffles between survivors
    assert(ringOwners.filter { case (a, b) => a != b }.forall(_._2 == 4L))
    assert(movedRing < movedMod)
    val out = graft.operators.ScaleOps.shardRebalanceAudit(
        keys.toDF("k"), col("k"), 4, 5, vn)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out("mod_hash") ==
      (("mod_hash", 500L, movedMod.toLong, movedMod * 1000000L / 500)))
    assert(out("consistent_ring") ==
      (("consistent_ring", 500L, movedRing.toLong,
        movedRing * 1000000L / 500)))
  }

  test("mergePartialAggs over split inputs equals the full recompute") {
    val e = Seq((1L, 10L), (1L, -4L), (2L, 7L), (3L, 0L), (2L, 2L),
      (1L, 5L)).toDF("k", "v")
    val parts = Seq(
      ScaleOps.partialAgg(e.where(col("v") > 0), "k", col("v")),
      ScaleOps.partialAgg(e.where(col("v") <= 0), "k", col("v")))
    val merged = ScaleOps.mergePartialAggs(parts, "k")
      .orderBy("k").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
    val full = ScaleOps.partialAgg(e, "k", col("v"))
      .orderBy("k").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
    assert(merged.sameElements(full))
    assert(merged.toSeq == Seq((1L, 3L, 11L, -4L, 10L),
      (2L, 2L, 9L, 2L, 7L), (3L, 1L, 0L, 0L, 0L)))
  }

  test("leave-one-out identity: LOO mean equals recompute without the source") {
    // monoid subtraction must equal the rescan it replaces
    val d = Seq(("a", 10L), ("a", 20L), ("b", 40L), ("c", 2L))
      .toDF("source", "n_chars")
    val per = d.groupBy("source").agg(count(lit(1)).as("n_s"),
      sum("n_chars").as("sum_s"))
    val tot = d.agg(count(lit(1)).as("n"), sum("n_chars").as("sum_all"))
    val loo = per.join(tot, lit(true))
      .select(col("source"),
        expr("(sum_all - sum_s) * 1000 div (n - n_s)").as("loo"))
      .as[(String, Long)].collect().toMap
    // without a: (40+2)*1000/2 = 21000; without b: 32*1000/3 = 10666
    assert(loo == Map("a" -> 21000L, "b" -> 10666L, "c" -> 23333L))
  }

  test("schema evolution read: old generation null-fills new columns") {
    val base = TestSpark.tmpDir("graft_evo_spec").toString
    Seq((1L, "en")).toDF("id", "lang").write.parquet(s"$base/gen=1")
    Seq((2L, "de", 42L)).toDF("id", "lang", "extra")
      .write.parquet(s"$base/gen=2")
    val r = spark.read.option("mergeSchema", "true").parquet(base)
      .select("id", "lang", "extra").orderBy("id").collect()
    assert(r(0).getLong(0) == 1L && r(0).isNullAt(2))
    assert(r(1).getLong(0) == 2L && r(1).getLong(2) == 42L)
  }
}
