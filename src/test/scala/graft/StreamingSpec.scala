package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.oracle.TriplesOracle
import graft.pipeline.KgPipeline
import graft.streaming.IncrementalKg
import graft.synth.Synth

/** Structured Streaming incremental append: a parquet-backed transcript
  * stream driven synchronously (AvailableNow + awaitTermination) must emit
  * exactly the triples of the windowed batch oracle.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming triples == batch triples on the same transcripts") {
    val nEnts = 150L; val mProps = 15L
    val ents = Synth.entityDump(spark, nEnts)
    val props = Synth.propertyDump(spark, mProps)
    val dict = KgPipeline.dictionary(
      graft.index.EntityIndexBuilder.build(ents), ents,
      graft.index.PropertyIndexBuilder.build(props), props)

    val transcripts = Synth.transcripts(spark, 15, 5, nEnts, mProps)
    val srcDir = Files.createTempDirectory("stream-src").toString
    // one file = one micro-batch: no turn can arrive behind the watermark
    transcripts.coalesce(1).write.mode("overwrite").parquet(srcDir)

    val outDir = Files.createTempDirectory("stream-out").toString
    val ckDir = Files.createTempDirectory("stream-ck").toString
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(transcripts.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = IncrementalKg.statefulTriplesStream(stream, dict, outDir,
        "kgstream", ckDir)
      q.awaitTermination(120000)
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
      spark.streams.resetTerminated()
    }
    runOnce()
    // the drained stream's buffered tail flushes once sentinels move the
    // watermark past the last turn
    val lastTs = transcripts.agg(max("ts")).head().getTimestamp(0).getTime
    val surface = dict.filter(!col("is_prop")).select("surface").head().getString(0)
    IncrementalKg.writeFlushSentinels(spark, srcDir, transcripts.schema, surface,
      afterTsMillis = lastTs, watermarkDelayMillis = 10000L)
    runOnce()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("subj", "pred", "obj", "conv_id", "turn_idx", "round(score, 6) AS s")
      .collect().map(_.toString).sorted.toSeq
    val got = canon(spark.read.parquet(outDir))
    val want = canon(TriplesOracle.windowed(
      graft.pipeline.Mentions.detectFast(transcripts, dict)))
    assert(got == want,
      s"only-stream=${got.diff(want).take(5)} only-batch=${want.diff(got).take(5)}")
    assert(got.nonEmpty)
  }

  test("stateful stream: split convs + LATE turn across batches == batch pipeline") {
    import spark.implicits._
    val dict = Seq(
      ("paris", "Q90", false, 50L),
      ("berlin", "Q64", false, 40L),
      ("tokyo", "Q1490", false, 30L),
      ("borders", "P47", true, 20L),
      ("contains", "P150", true, 10L))
      .toDF("surface", "id", "is_prop", "weight")
      .withColumn("kind", lit(0))

    val base = java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime
    def ts(sec: Long) = new java.sql.Timestamp(base + sec * 1000)
    // property-LEADING later turns: their subject is an entity mentioned
    // only in earlier turns; c1 turn 2 will arrive a batch LATE and must be
    // reordered back between turns 1 and 3 (it flips turn 3's subject from
    // Q90 to Q64)
    val corpus = Seq(
      ("c1", 0, "we saw paris today", ts(0)), ("c1", 1, "a lovely city", ts(10)),
      ("c1", 2, "berlin appeared today", ts(20)),
      ("c1", 3, "borders berlin we heard", ts(30)),
      ("c1", 4, "contains tokyo tower", ts(40)),
      ("c2", 0, "berlin was rainy", ts(0)), ("c2", 3, "borders paris maybe", ts(30)),
      ("c3", 0, "tokyo borders paris", ts(0)), ("c3", 1, "paris contains berlin", ts(10)))
      .toDF("conv_id", "turn_idx", "text", "ts")
    // sentinel turns exist only to advance the watermark past the real
    // corpus so its buffered tail flushes before the stream drains; they
    // must contain SOME dictionary surface (the watermark tracks the
    // mention stream), but an entity-only turn emits no triples
    val sentinels = Seq(
      ("zz", 0, "paris", ts(3600)),
      ("zz", 1, "paris", ts(7200)))
      .toDF("conv_id", "turn_idx", "text", "ts")

    val srcDir = Files.createTempDirectory("sstream-src").toString
    // five FILES = five micro-batches (maxFilesPerTrigger=1): turns 0-1 of
    // every conversation, then turns >= 3, then the LATE turn 2 of c1
    // (event time BELOW data already delivered), then the two watermark
    // sentinels. The late turn arrives while its successors are still
    // watermark-buffered, so the reorder buffer walks it back into place.
    def writeFile(df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.mode("append").parquet(srcDir)
      Thread.sleep(1200) // distinct mtimes → deterministic file order
    }
    writeFile(corpus.filter(col("turn_idx") < 2))
    writeFile(corpus.filter(col("turn_idx") >= 3))
    writeFile(corpus.filter(col("conv_id") === "c1" && col("turn_idx") === 2))
    writeFile(sentinels.filter(col("turn_idx") === 0))
    writeFile(sentinels.filter(col("turn_idx") === 1))

    val stream = spark.readStream
      .schema(corpus.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val outDir = Files.createTempDirectory("sstream-out").toString
    val ckDir = Files.createTempDirectory("sstream-ck").toString
    val q = IncrementalKg.statefulTriplesStream(stream, dict, outDir, "kgsstream",
      ckDir, watermarkDelay = "1 second")
    q.awaitTermination(180000)
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    // it really ran as >= 5 micro-batches
    assert(q.recentProgress.map(_.batchId).max >= 4,
      s"expected >=5 batches, got ${q.recentProgress.map(_.batchId).toSeq}")

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("subj", "pred", "obj", "conv_id", "turn_idx", "round(score, 6) AS s")
      .collect().map(_.toString).toSet
    val got = canon(spark.read.parquet(outDir))
    val want = canon(TriplesOracle.windowed(
      graft.pipeline.Mentions.detectFast(corpus, dict)))
    assert(got == want,
      s"only-stream=${(got -- want).take(5)} only-batch=${(want -- got).take(5)}")
    assert(got.nonEmpty)
    // the LATE turn did real work: turn 3's subject is Q64 (berlin, from the
    // late-arriving turn 2) — an in-arrival-order walk would emit Q90
    assert(got.exists(_.startsWith("[Q64,P47,Q64,c1,3")),
      s"late turn must flip c1 turn 3's subject to Q64: $got")
    // the cross-batch seeding did real work: some turn>=3 triple's subject
    // is an entity mentioned only in earlier turns (would be MISSING
    // per-batch)
    val perBatch = canon {
      val m = graft.pipeline.Mentions.detectFast(corpus, dict)
      TriplesOracle.windowed(m.filter(col("turn_idx") < 3))
        .unionByName(TriplesOracle.windowed(m.filter(col("turn_idx") >= 3)))
    }
    assert((want -- perBatch).nonEmpty,
      "test corpus must contain a cross-batch-dependent triple")
  }

  private def smallDict = {
    import spark.implicits._
    Seq(
      ("paris", "Q90", false, 50L),
      ("berlin", "Q64", false, 40L),
      ("borders", "P47", true, 20L))
      .toDF("surface", "id", "is_prop", "weight")
      .withColumn("kind", lit(0))
  }
  private val tsBase = java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime
  private def mkTs(sec: Long) = new java.sql.Timestamp(tsBase + sec * 1000)

  test("drained stream ending on a buffered turn: flush sentinels complete it") {
    import spark.implicits._
    val dict = smallDict
    // the LAST turn holds the only triple — after the first AvailableNow
    // run it is still watermark-buffered (nothing later advances the
    // watermark past it): the documented drained-tail shape
    val corpus = Seq(
      ("c1", 0, "we saw paris today", mkTs(0)),
      ("c1", 1, "borders berlin today", mkTs(10)))
      .toDF("conv_id", "turn_idx", "text", "ts")
    val srcDir = Files.createTempDirectory("flush-src").toString
    corpus.coalesce(1).write.mode("append").parquet(srcDir)
    val outDir = Files.createTempDirectory("flush-out").toString
    val ckDir = Files.createTempDirectory("flush-ck").toString
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val q = IncrementalKg.statefulTriplesStream(stream, dict, outDir,
        "kgflush", ckDir, watermarkDelay = "1 second")
      q.awaitTermination(120000)
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
      spark.streams.resetTerminated()
    }
    runOnce()
    def got() = spark.read.parquet(outDir)
      .select("subj", "pred", "obj", "conv_id", "turn_idx")
      .collect().map(_.toString).toSet
    val want = TriplesOracle.windowed(
      graft.pipeline.Mentions.detectFast(corpus, dict))
      .select("subj", "pred", "obj", "conv_id", "turn_idx")
      .collect().map(_.toString).toSet
    assert(want.nonEmpty && got().isEmpty,
      s"premise: the tail must still be buffered after the drain: ${got()}")
    // append the sentinels, re-run the SAME query from its checkpoint
    IncrementalKg.writeFlushSentinels(spark, srcDir, corpus.schema, "paris",
      afterTsMillis = mkTs(10).getTime, watermarkDelayMillis = 1000L)
    runOnce()
    assert(got() == want, s"flushed tail must match batch: ${got()} vs $want")
    // the sentinel conversation itself never reaches the sink
    assert(!spark.read.parquet(outDir).collect()
      .exists(_.getString(3) == IncrementalKg.FlushConvId))
  }

  test("turns beyond the watermark delay are DROPPED (late-data contract)") {
    import spark.implicits._
    val dict = smallDict
    val schema = Seq(("x", 0, "y", mkTs(0)))
      .toDF("conv_id", "turn_idx", "text", "ts").schema
    val srcDir = Files.createTempDirectory("late-src").toString
    def writeFile(rows: (String, Int, String, java.sql.Timestamp)*): Unit = {
      rows.toSeq.toDF("conv_id", "turn_idx", "text", "ts")
        .coalesce(1).write.mode("append").parquet(srcDir)
      Thread.sleep(1200)
    }
    writeFile(("c1", 0, "we saw paris today", mkTs(0)))
    // two sentinel batches push the watermark ~an hour ahead AND give the
    // late filter (which lags the watermark by one batch) time to engage
    IncrementalKg.writeFlushSentinels(spark, srcDir, schema, "paris",
      afterTsMillis = mkTs(3600).getTime, watermarkDelayMillis = 1000L)
    // then a turn a full hour older than the watermark arrives: Spark's
    // late-data filter removes it BEFORE flatMapGroupsWithState — it is
    // dropped, never walked at arrival position (ADVICE r04: this pins the
    // standard contract the scaladoc states)
    writeFile(("c1", 1, "borders berlin today", mkTs(10)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val outDir = Files.createTempDirectory("late-out").toString
    val q = IncrementalKg.statefulTriplesStream(stream, dict, outDir, "kglate",
      Files.createTempDirectory("late-ck").toString, watermarkDelay = "1 second")
    q.awaitTermination(120000)
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    spark.streams.resetTerminated()
    // had the late turn been walked at arrival it would have emitted
    // (Q90, P47, Q64, c1, 1) — seeded by turn 0's focus
    val got = spark.read.parquet(outDir).collect().map(_.toString).toSet
    assert(!got.exists(_.contains("c1,1")),
      s"late turn must be dropped, not walked at arrival: $got")
  }

  test("idle-TTL expires drained conversation state (focus lost by contract)") {
    import spark.implicits._
    val dict = smallDict
    val schema = Seq(("x", 0, "y", mkTs(0)))
      .toDF("conv_id", "turn_idx", "text", "ts").schema
    // c1 turn 0 sets focus Q90 and drains; watermark-driver turns in conv
    // "w" then advance event time far past the 5 s TTL; c1 turn 1 arrives
    // after the gap and needs the carried focus to emit its triple
    def corpusFiles = Seq(
      Seq(("c1", 0, "we saw paris today", mkTs(0)), ("w", 0, "paris", mkTs(30))),
      Seq(("w", 1, "paris", mkTs(60))),
      Seq(("w", 2, "paris", mkTs(120))),
      Seq(("c1", 1, "borders berlin today", mkTs(130))),
      Seq(("w", 3, "paris", mkTs(200))),
      Seq(("w", 4, "paris", mkTs(260))))
    def run(ttlMs: Long): Set[String] = {
      val srcDir = Files.createTempDirectory(s"ttl-src$ttlMs").toString
      corpusFiles.foreach { rows =>
        rows.toDF("conv_id", "turn_idx", "text", "ts")
          .coalesce(1).write.mode("append").parquet(srcDir)
        Thread.sleep(1200)
      }
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val outDir = Files.createTempDirectory(s"ttl-out$ttlMs").toString
      val q = IncrementalKg.statefulTriplesStream(stream, dict, outDir,
        s"kgttl$ttlMs", Files.createTempDirectory(s"ttl-ck$ttlMs").toString,
        watermarkDelay = "1 second", idleTtlMs = ttlMs)
      q.awaitTermination(120000)
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
      spark.streams.resetTerminated()
      spark.read.parquet(outDir).collect().map(_.toString).toSet
    }
    val seeded = run(ttlMs = 3600000L) // TTL far beyond the gap: state kept
    assert(seeded.exists(s => s.contains("Q90,P47,Q64") && s.contains("c1,1")),
      s"without expiry the carried focus seeds the triple: $seeded")
    val expired = run(ttlMs = 5000L) // 5s TTL ≪ the 60s idle gap: state dropped
    assert(!expired.exists(_.contains("c1,1")),
      s"expired focus must not seed the triple: $expired")
  }

  test("streaming ingest dedup: in-run dups dropped, cross-run state survives the checkpoint") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("sdedup-src").toString
    val outDir = Files.createTempDirectory("sdedup-out").toString
    val ckDir = Files.createTempDirectory("sdedup-ck").toString
    val t0 = 1700000000000L
    def doc(id: Long, text: String, tsMs: Long) =
      (id, text, new java.sql.Timestamp(tsMs))
    def write(rows: Seq[(Long, String, java.sql.Timestamp)]): Unit =
      rows.toDF("doc_id", "text", "ts")
        .coalesce(1).write.mode("append").parquet(srcDir)
    def run(): Unit = {
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING, ts TIMESTAMP")
        .parquet(srcDir)
      val q = graft.streaming.StreamingOps.dedupStream(
        stream, "text", "ts", outDir, "sdedup", ckDir, "10 minutes")
      q.awaitTermination(120000)
      assert(q.exception.isEmpty, s"${q.exception}")
    }
    // run 1: A, its exact duplicate, and B — the dup drops within the run
    write(Seq(doc(1L, "alpha beta gamma", t0),
      doc(2L, "alpha beta gamma", t0 + 1000L),
      doc(3L, "delta epsilon", t0 + 300000L)))
    run()
    val got1 = spark.read.parquet(outDir)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got1.map(_._2) == Set("alpha beta gamma", "delta epsilon"))
    assert(got1.size == 2, s"exactly one row per distinct text: $got1")
    assert(got1.contains((1L, "alpha beta gamma")), "first occurrence wins")
    // run 2 (same checkpoint): another duplicate of A, WITHIN the horizon of
    // run 1's watermark (max_ts - 10min = t0 - 5min < t0+1min) — the key
    // state persisted in the checkpoint must still drop it; C is new
    write(Seq(doc(4L, "alpha beta gamma", t0 + 60000L),
      doc(5L, "zeta eta", t0 + 360000L)))
    run()
    val got2 = spark.read.parquet(outDir)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got2.map(_._2) == Set("alpha beta gamma", "delta epsilon", "zeta eta"))
    assert(!got2.exists(_._1 == 4L),
      s"cross-run duplicate within the horizon must stay dropped: $got2")
  }
}
