package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VecFunctions
import graft.oracle.BuiltinOracle

class VecExpressionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def vecs() = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (2L, Array(0.5f, -1.5f), Array(2.0f, 2.0f)),
      (3L, Array.empty[Float], Array.empty[Float]))
      .toDF("id", "a", "b")
  }

  test("vec_dot == built-in aggregate/zip_with formulation") {
    val df = vecs()
      .withColumn("fused", VecFunctions.vec_dot(col("a"), col("b")))
      .withColumn("builtin", BuiltinOracle.dot(col("a"), col("b")))
    val rows = df.collect()
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("fused") - r.getAs[Double]("builtin")) < 1e-9,
        s"id=${r.getLong(0)}")
    }
    assert(rows.find(_.getLong(0) == 1L).get.getAs[Double]("fused") == 32.0)
    assert(rows.find(_.getLong(0) == 3L).get.getAs[Double]("fused") == 0.0)
  }

  test("null semantics and SQL registration") {
    import spark.implicits._
    VecFunctions.register(spark)
    val df = Seq((1L, Some(Array(1.0f)), None: Option[Array[Float]]))
      .toDF("id", "a", "b")
    df.createOrReplaceTempView("vx")
    val r = spark.sql("SELECT vec_dot(a, b) AS d, vec_dot(a, a) AS s FROM vx").collect()(0)
    assert(r.isNullAt(0))
    assert(r.getDouble(1) == 1.0)
  }

  test("whole-stage codegen path produces same results as interpreted eval") {
    // force a big enough frame that codegen actually runs, compare against
    // driver-side math
    import spark.implicits._
    val df = spark.range(1000).select(
      col("id"),
      transform(sequence(lit(0), lit(15)), i => (i + col("id")).cast("float")).as("v"))
    val got = df.select(col("id"), VecFunctions.vec_dot(col("v"), col("v")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def expect(id: Long): Double = (0 until 16).map(i => { val x = (i + id).toFloat.toDouble; x * x }).sum
    assert(got(0L) == expect(0L) && got(999L) == expect(999L))
  }

  test("long_vec_dot == built-in integer aggregate/zip_with, incl. overflow and null semantics") {
    import spark.implicits._
    // randomized equal-length vectors + hand cases incl. empty (0)
    val df = (Seq(
      (1L, Array(1L, 2L, 3L), Array(4L, 5L, 6L)),
      (2L, Array.empty[Long], Array.empty[Long]),
      (4L, Array(-7L, 11L, -13L, 17L), Array(19L, -23L, 29L, -31L))) ++
      (5L to 40L).map(i => (i,
        Array.tabulate(16)(d => i * 31L + d * 7L - 50L),
        Array.tabulate(16)(d => d * i - 8L))))
      .toDF("id", "a", "b")
    val rows = df
      .withColumn("fused", VecFunctions.long_vec_dot(col("a"), col("b")))
      .withColumn("builtin", BuiltinOracle.qdot(col("a"), col("b")))
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("fused") == r.getAs[Long]("builtin"), s"id=${r.getLong(0)}")
    }
    assert(rows.find(_.getLong(0) == 1L).get.getAs[Long]("fused") == 32L)
    assert(rows.find(_.getLong(0) == 2L).get.getAs[Long]("fused") == 0L)

    // overflow: Spark 4 ANSI mode makes the built-in x*y RAISE rather than
    // wrap (and DuckDB BIGINT errors too) — the fused loop must also fail,
    // never return a silently-wrapped value
    val big = Long.MaxValue / 2 + 7L
    val ovf = Seq((1L, Array(big, big), Array(3L, 5L))).toDF("id", "a", "b")
    intercept[Exception] {
      ovf.select(VecFunctions.long_vec_dot(col("a"), col("b"))).collect()
    }
    intercept[Exception] {
      ovf.select(BuiltinOracle.qdot(col("a"), col("b"))).collect()
    }

    // length mismatch: zip_with pads with null -> the sum poisons to NULL;
    // the fused loop must reproduce that, not a partial sum
    val mm = Seq((1L, Array(1L, 2L, 3L), Array(1L, 1L)))
      .toDF("id", "a", "b")
      .withColumn("fused", VecFunctions.long_vec_dot(col("a"), col("b")))
      .withColumn("builtin", BuiltinOracle.qdot(col("a"), col("b")))
      .collect()(0)
    assert(mm.isNullAt(3) && mm.isNullAt(4), s"length mismatch must be NULL: $mm")

    // documented divergence (ADVICE r05): a NULL element BEFORE an
    // overflowing pair — the fused loop short-circuits to NULL while the
    // built-in (which materializes every zip_with product first) raises
    // ARITHMETIC_OVERFLOW; pin both behaviors so the scaladoc contract
    // stays honest
    val nullThenOvf = Seq((1L,
      Array[java.lang.Long](null, big, big),
      Array[java.lang.Long](1L, big, big)))
      .toDF("id", "a", "b")
    val fusedRow = nullThenOvf
      .select(VecFunctions.long_vec_dot(col("a"), col("b"))).collect()(0)
    assert(fusedRow.isNullAt(0), "fused loop: NULL before overflow -> NULL")
    intercept[Exception] {
      nullThenOvf.select(BuiltinOracle.qdot(col("a"), col("b"))).collect()
    }

    // null input -> null; SQL registration via the session extension name
    VecFunctions.register(spark)
    val nr = Seq((1L, Some(Array(1L, 2L)), None: Option[Array[Long]]))
      .toDF("id", "a", "b")
      .select(VecFunctions.long_vec_dot(col("a"), col("b")).as("d"),
        VecFunctions.long_vec_dot(col("a"), col("a")).as("s"))
      .collect()(0)
    assert(nr.isNullAt(0) && nr.getLong(1) == 5L)
  }
}
