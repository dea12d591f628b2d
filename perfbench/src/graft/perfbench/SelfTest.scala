package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Tests of the benchmark's own logic. Run with `python3 perfbench/run.py
  * --selftest`; exits non-zero if any test fails.
  *
  * Usage: `SelfTest <work dir> <BENCHMARK.json>`.
  */
object SelfTest {

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    val Array(work, benchmarkJson) = args
    lazy val spark: SparkSession = Main.session(work)
    import spark.implicits._

    val tests: Seq[(String, () => Unit)] = Seq(
      "self time: no children is the whole span" -> { () =>
        check(Span.selfNs(0, 100, Nil) == 100, "expected 100")
      },
      "self time: overlapping and nested children count once" -> { () =>
        check(Span.selfNs(0, 100, Seq((10, 30), (20, 40), (25, 35), (60, 70))) == 60,
          s"got ${Span.selfNs(0, 100, Seq((10, 30), (20, 40), (25, 35), (60, 70)))}")
      },
      "self time: children are clipped to the parent" -> { () =>
        check(Span.selfNs(50, 100, Seq((0, 60), (90, 200))) == 30,
          s"got ${Span.selfNs(50, 100, Seq((0, 60), (90, 200)))}")
      },
      "self time: children covering everything leave 0" -> { () =>
        check(Span.selfNs(0, 10, Seq((0, 5), (5, 10))) == 0, "expected 0")
      },
      "checksum: row order does not matter" -> { () =>
        val a = Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "v")
        check(Checks.checksum(a) == Checks.checksum(a.orderBy(desc("k")).repartition(3)),
          "order changed the checksum")
      },
      "checksum: doubles equal after rounding hash alike" -> { () =>
        val a = Seq((1, 0.1 + 0.2), (2, 1e6 / 3)).toDF("k", "d")
        val b = Seq((1, 0.3), (2, 333333.33333333331)).toDF("k", "d")
        check(Checks.checksum(a) == Checks.checksum(b), "rounding did not absorb last-bit noise")
      },
      "checksum: values that differ after rounding hash apart" -> { () =>
        val a = Seq((1, 0.3)).toDF("k", "d")
        val b = Seq((1, 0.300002)).toDF("k", "d")
        check(Checks.checksum(a) != Checks.checksum(b), "a real difference was rounded away")
      },
      "checksum: floats nested in arrays and structs are rounded" -> { () =>
        val a = Seq((1, Seq(0.12345f + 1e-7f), (2.0000000001, "s"))).toDF("k", "arr", "st")
        val b = Seq((1, Seq(0.12345f), (2.0, "s"))).toDF("k", "arr", "st")
        check(Checks.checksum(a) == Checks.checksum(b), "nested values were not rounded")
      },
      "checksum: row count is part of the sum" -> { () =>
        val a = Seq(1, 2).toDF("k")
        check(Checks.checksum(a) != Checks.checksum(a.union(a)), "duplicates went unseen")
      },
      "generator: one variant always yields the same tables" -> { () =>
        val s = Inputs.KgShape(convs = 20, turns = 5, ents = 500, props = 20, rich = false)
        def kg(v: Int) = Seq(Inputs.transcripts(spark, s, v),
          Inputs.entityDump(spark, s.ents, rich = true, v)).map(Checks.checksum)
        check(kg(3) == kg(3), "same variant, different KG inputs")
        val t = Inputs.ToolkitShape(sf = 0.001)
        def tk(v: Int) = Inputs.toolkitTables(spark, t, v).toSeq.sortBy(_._1)
          .map { case (n, df) => n -> Checks.checksum(df) }
        check(tk(5) == tk(5), "same variant, different toolkit inputs")
      },
      "generator: variants differ and keep their row counts" -> { () =>
        val s = Inputs.KgShape(convs = 20, turns = 5, ents = 500, props = 20, rich = false)
        val a = Inputs.transcripts(spark, s, 0)
        val b = Inputs.transcripts(spark, s, 1)
        check(Checks.checksum(a) != Checks.checksum(b), "variants 0 and 1 are identical")
        check(a.count() == s.turnRows && b.count() == s.turnRows, "row counts moved")
      },
      "generator: Zipf draws make hubs and stay in range" -> { () =>
        val ids = spark.range(20000).select(
          Inputs.zipfId(0, 1000L, Seq(col("id")), 1).as("e"))
        val r = ids.agg(min("e"), max("e")).head()
        check(r.getLong(0) >= 0 && r.getLong(1) < 1000, s"out of range: $r")
        val top = ids.groupBy("e").count().agg(max("count")).head().getLong(0)
        check(top > 20000 / 20, s"head id drew only $top of 20000")
      },
      "metric names match BENCHMARK.json" -> { () =>
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new java.io.File(benchmarkJson))
        import scala.jdk.CollectionConverters._
        val declared = root.path("per_layer").elements().asScala
          .map(n => n.path("name").asText() -> n.path("unit").asText()).toSeq
        check(declared == Layers.names,
          s"per_layer differs: ${declared.diff(Layers.names)} vs ${Layers.names.diff(declared)}")
        val e2e = root.path("end_to_end").elements().asScala.map(_.path("name").asText()).toSeq
        check(e2e == Main.EndToEnd.map(_._1), s"end_to_end differs: $e2e")
      })

    var failed = 0
    tests.foreach { case (name, t) =>
      try { t(); println(s"PASS $name") }
      catch { case e: Throwable => failed += 1; println(s"FAIL $name: ${e.getMessage}") }
    }
    println(s"${tests.size - failed}/${tests.size} passed")
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(if (failed == 0) 0 else 1)
  }
}
