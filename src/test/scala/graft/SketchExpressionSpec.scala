package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MinhashSigs
import graft.functions.SimhashBitsExpr
import graft.ops.Dedup
import graft.oracle.BuiltinOracle

/** The native MinhashSigs / SimhashBitsExpr expressions must be bit-identical
  * to the built-in HOF formulations they replace (which the DuckDB oracles
  * mirror) — including null tokens, empty arrays and non-ASCII codepoints.
  */
class SketchExpressionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def toksDf(arrays: Seq[Seq[String]]) = {
    import spark.implicits._
    arrays.toDF("toks")
  }

  def checkMinhash(arrays: Seq[Seq[String]], numHashes: Int): Unit = {
    val rows = toksDf(arrays).select(
      MinhashSigs.minhash_sigs(col("toks"), numHashes).as("native"),
      BuiltinOracle.minhashSig(col("toks"), numHashes).as("builtin")).collect()
    rows.zip(arrays).foreach { case (r, a) =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1),
        s"minhash mismatch on ${a.take(5)}")
    }
  }

  def checkSimhash(arrays: Seq[Seq[String]]): Unit = {
    val rows = toksDf(arrays).select(
      SimhashBitsExpr.simhash_bits(col("toks"), 48).as("native"),
      BuiltinOracle.simhashBits(col("toks")).as("builtin")).collect()
    rows.zip(arrays).foreach { case (r, a) =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1),
        s"simhash mismatch on ${a.take(5)}")
    }
  }

  private val crafted: Seq[Seq[String]] = Seq(
    Seq.empty,
    Seq("a"),
    Seq("abc", "def"),
    Seq("the", "quick", "brown", "fox", "jumps", "over", "the", "lazy", "dog"),
    Seq(""),
    Seq("", "x", ""),
    Seq("unicode", "żółć", "中文", "🙂", "é"),
    (1 to 300).map(i => s"tok$i"),
    Seq("repeat") ++ Seq.fill(50)("repeat"))

  test("minhash native == built-in on crafted token arrays") {
    checkMinhash(crafted, 32)
    checkMinhash(crafted, 1)
    checkMinhash(crafted, 64)
  }

  test("simhash native == built-in on crafted token arrays") {
    checkSimhash(crafted)
  }

  test("null tokens and null arrays match the built-ins") {
    import spark.implicits._
    val df = Seq(
      (1, Seq[String]("a", null, "b")),
      (2, Seq[String](null, null)),
      (3, null: Seq[String])).toDF("id", "toks")
    // the Dedup wrappers (the production entry points) own the null-ARRAY
    // edge: the raw expressions are null-in-null-out, while the built-in
    // HOF forms return an array of null slots (minhash) / zero bits
    // (simhash) on a null token array — the when() wrapper reproduces that
    val r = df.select(
      Dedup.minhashSig(col("toks"), 8).as("mn"),
      BuiltinOracle.minhashSig(col("toks"), 8).as("mb"),
      Dedup.simhashBits(col("toks")).as("sn"),
      BuiltinOracle.simhashBits(col("toks")).as("sb")).collect()
    r.foreach { row =>
      assert(row.isNullAt(0) == row.isNullAt(1))
      if (!row.isNullAt(0)) assert(row.getSeq[Any](0) == row.getSeq[Any](1))
      assert(row.isNullAt(2) == row.isNullAt(3))
      if (!row.isNullAt(2)) assert(row.getSeq[Any](2) == row.getSeq[Any](3))
    }
  }

  test("vec_sum_counts == posexplode/groupBy sum+count formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // ragged lengths + negatives + a group with one long array
    val rows = (1 to 200).map { i =>
      val dim = rnd.nextInt(10)
      (i.toLong % 7, Array.tabulate(dim)(d => rnd.nextLong() % 1000000L))
    }
    val df = rows.toDF("cid", "q")
    val packed = df.groupBy(col("cid"))
      .agg(graft.functions.VecSumCounts.vec_sum_counts(col("q")).as("sc"))
      .select(col("cid"), col("sc.sums").as("sums"), col("sc.counts").as("counts"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1), r.getSeq[Long](2)))).toMap
    val exploded = df
      .select(col("cid"), posexplode(col("q")).as(Seq("d", "x")))
      .groupBy(col("cid"), col("d"))
      .agg(sum(col("x")).as("sm"), count(lit(1)).as("cnt"))
      .collect().groupBy(_.getLong(0))
    exploded.foreach { case (cid, rs) =>
      val (sums, counts) = packed(cid)
      assert(sums.length == rs.length, s"cid=$cid dim mismatch")
      rs.foreach { r =>
        val d = r.getInt(1)
        assert(sums(d) == r.getLong(2) && counts(d) == r.getLong(3),
          s"cid=$cid d=$d")
      }
    }
    // groups absent from the exploded side (all-empty arrays) pack to empty
    packed.keys.filterNot(exploded.contains).foreach { cid =>
      assert(packed(cid)._1.isEmpty)
    }
    // overflow throws (matches ANSI sum over BIGINT)
    val big = Long.MaxValue / 2 + 7L
    intercept[Exception] {
      Seq((1L, Array(big)), (1L, Array(big))).toDF("cid", "q")
        .groupBy(col("cid"))
        .agg(graft.functions.VecSumCounts.vec_sum_counts(col("q")))
        .collect()
    }
  }

  test("native == built-in on pseudo-random token arrays (property sweep)") {
    val rnd = new scala.util.Random(13)
    val pool = "abcdefghij KLMNOP.;'öü🙂"
    val arrays = (1 to 100).map { _ =>
      val n = rnd.nextInt(40)
      (0 until n).map { _ =>
        val m = rnd.nextInt(8)
        (0 until m).map(_ => pool(rnd.nextInt(pool.length))).mkString
      }
    }
    checkMinhash(arrays, 32)
    checkSimhash(arrays)
  }
}
