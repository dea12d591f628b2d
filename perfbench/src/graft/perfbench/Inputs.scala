package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.synth.Synth

/** Seeded input generator. Every column is a pure function of
  * (variant, row id), computed with Spark's xxhash64 and integer arithmetic,
  * so one variant always yields the same tables at any parallelism. The
  * program under test only ever sees the parquet tables written here.
  *
  * A run's `--seed` selects one of [[Variants]] input variants; the expected
  * output checksums of every variant are recorded in `checksums.json`.
  */
object Inputs {

  val Variants: Int = 16

  def variantOf(seed: Long): Int = Math.floorMod(seed, Variants.toLong).toInt

  /** Shape of a KG workload's inputs. `rich` selects Synth's 4-token label
    * vocabulary (unique labels below ~1.15M entities); otherwise the 2-token
    * hazard vocabulary, whose ~1,073 distinct labels collide heavily.
    */
  final case class KgShape(convs: Long, turns: Int, ents: Long, props: Long,
      rich: Boolean) {
    def turnRows: Long = convs * turns
  }

  /** Rows and bytes of every table written, for the record. */
  final case class TableStat(rows: Long, bytes: Long)

  // 1,000,003 is prime, so `rank * Stride mod n` permutes ranks onto ids for
  // every n used here.
  private val Stride = 1000003L

  private def pick(words: Seq[String], idx: Column): Column =
    element_at(typedlit(words), (pmod(idx, lit(words.size.toLong)) + 1).cast("int"))

  private def h(variant: Int, cols: Column*): Column =
    xxhash64((lit(variant.toLong) +: cols): _*)

  /** Uniform draw in [0, n) keyed by `cols`. */
  private def uniform(variant: Int, n: Long, cols: Column*): Column =
    pmod(h(variant, cols: _*), lit(n))

  /** Log-uniform (Zipf s = 1) draw of an entity id in [0, n): a bit-length
    * level is drawn uniformly, then a rank inside that level, so rank r is
    * drawn with probability ~1/r and the head ids become hubs. Integer-only,
    * so every platform draws the same ids.
    */
  private[perfbench] def zipfId(variant: Int, n: Long, key: Seq[Column], salt: Int): Column = {
    val levels = 64 - java.lang.Long.numberOfLeadingZeros(math.max(n - 1, 1L))
    val level = pmod(h(variant, key :+ lit(salt): _*), lit(levels.toLong)).cast("int")
    // powers of two are exact in a double
    val width = pow(lit(2.0), level).cast("long")
    val rank = least(width - 1 + pmod(h(variant, key :+ lit(salt + 1): _*), width),
      lit(n - 1))
    pmod(rank * lit(Stride) + lit(variant * 7919L), lit(n))
  }

  private def labelFn(rich: Boolean): Column => Column =
    if (rich) Synth.entLabelRich else Synth.entLabel

  /** Entity dump at the pipeline schema `(qid, label, desc, count, types,
    * aliases, seq)`, with the planted hazards of `Synth.entityDump` (shared
    * labels, aliases equal to another entity's label, type links) and a
    * variant-dependent assignment of labels, popularity and aliases.
    */
  def entityDump(spark: SparkSession, n: Long, rich: Boolean, variant: Int): DataFrame = {
    val lbl = labelFn(rich)
    val shift = variant * 7919L
    val t = math.max(1L, n / 50)
    val id = col("id")
    spark.range(n)
      .withColumn("qid", concat(lit("Q"), id + 1))
      .withColumn("label", lbl(id + shift))
      .withColumn("desc",
        when(pmod(id + variant, lit(10)) === 9, lit(""))
          .otherwise(concat(lit("kind-"), pmod(id + variant, lit(7)))))
      .withColumn("count", Synth.zipfCount(id + shift, n))
      .withColumn("types",
        when(id < t, array().cast("array<string>"))
          .otherwise(array(concat(lit("Q"), pmod(id * 3 + variant, lit(t)) + 1))))
      .withColumn("aliases",
        filter(
          array(
            when(pmod(id, lit(3)) === 0, lbl(pmod(id * 5 + 1 + variant, lit(n)) + shift)),
            when(pmod(id, lit(4)) === 0, concat(lit("codename "), col("qid")))),
          x => x.isNotNull))
      .withColumn("seq", id)
      .select("qid", "label", "desc", "count", "types", "aliases", "seq")
  }

  /** Transcripts at the pipeline input schema. Each turn's text is
    * `filler <subject label> <property label> <object label> filler`, so the
    * planted triple count is exactly one per turn; subjects and objects are
    * Zipf draws, which makes the head entities hubs.
    */
  def transcripts(spark: SparkSession, s: KgShape, variant: Int): DataFrame = {
    val lbl = labelFn(s.rich)
    val key = Seq(col("conv"), col("turn_idx"))
    spark.range(s.turnRows)
      .withColumn("conv", expr(s"id div ${s.turns}"))
      .withColumn("turn_idx", pmod(col("id"), lit(s.turns.toLong)).cast("int"))
      .withColumn("conv_id", format_string("conv-%06d", col("conv")))
      .withColumn("role",
        element_at(typedlit(Seq("user", "assistant", "tool")),
          (pmod(col("turn_idx"), lit(3)) + 1).cast("int")))
      .withColumn("text", concat_ws(" ",
        pick(Synth.fillers, uniform(variant, 1000L, key :+ lit(1): _*)),
        lbl(zipfId(variant, s.ents, key, 10) + variant * 7919L),
        Synth.propLabel(uniform(variant, s.props, key :+ lit(2): _*)),
        lbl(zipfId(variant, s.ents, key, 20) + variant * 7919L),
        pick(Synth.fillers, uniform(variant, 1000L, key :+ lit(3): _*))))
      .withColumn("tool",
        when(col("role") === "tool",
          element_at(typedlit(Seq("search", "code")),
            (pmod(col("conv"), lit(2)) + 1).cast("int")))
          .otherwise(lit("")))
      .withColumn("ts",
        timestamp_seconds(lit(1700000000L) + col("conv") * 3600 + col("turn_idx")))
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  /** Writes the four KG input tables under `dir`. */
  def writeKg(spark: SparkSession, s: KgShape, variant: Int, dir: String): Map[String, TableStat] =
    writeAll(Map(
      "transcripts" -> transcripts(spark, s, variant),
      "entities" -> entityDump(spark, s.ents, s.rich, variant),
      "properties" -> Synth.propertyDump(spark, s.props),
      "redirects" -> Synth.redirects(spark, s.ents)
    ).map { case (name, df) => (name, df, s"$dir/$name") })

  // ---- toolkit tables: the TPC-H-like star schema plus documents,
  // ---- embeddings and events that `SparkEntry.queries` read

  private val Vocab: Seq[String] = Seq(
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "data", "table",
    "agg", "value", "key", "stream", "window", "a", "spark", "part", "group",
    "big", "sort", "query", "fast", "the")
  private val PartAdj = Seq("blue", "old", "red", "small", "new", "hot", "large", "cold")
  private val PartNoun = Seq("widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear")

  /** Row counts of the toolkit tables at scale factor `sf`. */
  final case class ToolkitShape(sf: Double) {
    private def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val parts: Long = n(200000)
    val suppliers: Long = n(10000)
    val customers: Long = n(150000)
    val orders: Long = n(1500000)
    val events: Long = n(1000000)
    val documents: Long = n(50000)
    val embeddings: Long = n(50000)
  }

  private def ntz(secondsCol: Column): Column =
    timestamp_seconds(secondsCol).cast("timestamp_ntz")

  /** Two-decimal value in [lo, lo + span) drawn from `hash`. */
  private def cents(hash: Column, lo: Double, span: Long): Column =
    (pmod(hash, lit(span * 100)) / 100.0 + lit(lo)).cast("double")

  private def textOf(variant: Int, idCol: Column): Column = {
    val ntok = pmod(h(variant, idCol, lit(1)), lit(90L)) + 10
    array_join(
      transform(sequence(lit(1L), ntok),
        i => element_at(typedlit(Vocab),
          (pmod(xxhash64(lit(variant.toLong), idCol, i), lit(Vocab.size.toLong)) + 1).cast("int"))),
      " ")
  }

  def toolkitTables(spark: SparkSession, s: ToolkitShape, variant: Int): Map[String, DataFrame] = {
    val id = col("id")
    val region = spark.createDataFrame(Seq(
      (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")))
      .toDF("r_regionkey", "r_name")
    val nation = spark.range(25).select(
      id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      pmod(id, lit(5L)).cast("int").as("n_regionkey"))
    val part = spark.range(s.parts).select(
      id.as("p_partkey"),
      concat(pick(PartAdj, h(variant, id, lit(1))), lit(" "),
        pick(PartNoun, h(variant, id, lit(2)))).as("p_name"),
      concat(lit("Brand#"), uniform(variant, 25L, id, lit(3)) + 1).as("p_brand"),
      pick(Seq("SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"),
        h(variant, id, lit(4))).as("p_type"),
      (uniform(variant, 50L, id, lit(5)) + 1).cast("int").as("p_size"),
      (pmod(id, lit(1000L)) / 10.0 + 900.0).as("p_retailprice"))
    val supplier = spark.range(s.suppliers).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      uniform(variant, 25L, id, lit(1)).cast("int").as("s_nationkey"),
      cents(h(variant, id, lit(2)), -999.99, 11000L).as("s_acctbal"))
    val customer = spark.range(s.customers).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      uniform(variant, 25L, id, lit(1)).cast("int").as("c_nationkey"),
      cents(h(variant, id, lit(2)), -999.99, 11000L).as("c_acctbal"),
      pick(Seq("HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"),
        h(variant, id, lit(3))).as("c_mktsegment"))
    val day = 86400L
    val epoch1995 = 788918400L
    // as in TPC-H, customers whose key is a multiple of 3 place no orders
    val buyer = uniform(variant, s.customers, id, lit(1))
    val orders = spark.range(s.orders).select(
      id.as("o_orderkey"),
      when(pmod(buyer, lit(3L)) === 0, pmod(buyer + 1, lit(s.customers)))
        .otherwise(buyer).as("o_custkey"),
      pick(Seq("P", "O", "F"), h(variant, id, lit(2))).as("o_orderstatus"),
      cents(h(variant, id, lit(3)), 1000.0, 499000L).as("o_totalprice"),
      ntz(lit(epoch1995) + uniform(variant, 2400L, id, lit(4)) * day).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        h(variant, id, lit(5))).as("o_orderpriority"))
    val lk = Seq(col("o"), col("l_linenumber"))
    val lineitem = spark.range(s.orders)
      .select(id.as("o"),
        explode(sequence(lit(1), (uniform(variant, 7L, id, lit(6)) + 1).cast("int")))
          .as("l_linenumber"))
      .withColumn("qty", (uniform(variant, 50L, lk :+ lit(1): _*) + 1).cast("double"))
      .select(
        col("o").as("l_orderkey"),
        uniform(variant, s.parts, lk :+ lit(2): _*).as("l_partkey"),
        uniform(variant, s.suppliers, lk :+ lit(3): _*).as("l_suppkey"),
        col("l_linenumber"),
        col("qty").as("l_quantity"),
        round(col("qty") * cents(h(variant, (lk :+ lit(4)): _*), 900.0, 1200L), 2)
          .as("l_extendedprice"),
        (uniform(variant, 11L, lk :+ lit(5): _*) / 100.0).as("l_discount"),
        (uniform(variant, 9L, lk :+ lit(6): _*) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), h(variant, (lk :+ lit(7)): _*)).as("l_returnflag"),
        pick(Seq("O", "F"), h(variant, (lk :+ lit(8)): _*)).as("l_linestatus"),
        ntz(lit(epoch1995 + day) + uniform(variant, 2500L, lk :+ lit(9): _*) * day)
          .as("l_shipdate"))
    val users = math.max(1L, s.events / 66)
    val span = 30L * day * 1000000L / s.events
    val events = spark.range(s.events).select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200L * 1000000L) + id * span +
        uniform(variant, span, id, lit(1))).cast("timestamp_ntz").as("ts"),
      uniform(variant, users, id, lit(2)).as("user_id"),
      pick(Seq("click", "signup", "error", "view", "purchase"), h(variant, id, lit(3)))
        .as("event_type"),
      cents(h(variant, id, lit(4)), 0.01, 490L).as("value"),
      format_string("{\"k\": %d}", uniform(variant, 100L, id, lit(5))).as("props"))
    // ~5% of documents repeat an earlier document with " dup" appended, so
    // the exact and near-duplicate operators find work
    val dupOf = id - uniform(variant, 10L, id, lit(7)) - 1
    val documents = spark.range(s.documents)
      .withColumn("is_dup", id > 10 && uniform(variant, 20L, id, lit(6)) === 0)
      .withColumn("text",
        when(col("is_dup"), concat(textOf(variant, dupOf), lit(" dup")))
          .otherwise(textOf(variant, id)))
      .select(
        id.as("doc_id"),
        col("text"),
        pick(Seq("en", "en", "de", "fr", "es", "zh"), h(variant, id, lit(2))).as("lang"),
        concat(lit("src"), uniform(variant, 20L, id, lit(3))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    // 10 clusters: a per-label centroid plus per-vector noise, L2-normalised
    val dims = 64
    val raw = spark.range(s.embeddings)
      .withColumn("label", uniform(variant, 10L, id, lit(1)).cast("int"))
      .withColumn("v", transform(sequence(lit(0), lit(dims - 1)), j =>
        (pmod(xxhash64(lit(variant.toLong), col("label"), j, lit(2)), lit(2001L)) - 1000) / 1000.0 +
          (pmod(xxhash64(lit(variant.toLong), id, j, lit(3)), lit(2001L)) - 1000) / 2500.0))
      .withColumn("norm", sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x)))
    val embeddings = raw.select(
      id.as("vec_id"),
      transform(col("v"), x => (x / col("norm")).cast("float")).as("embedding"),
      col("label"))
    Map("region" -> region, "nation" -> nation, "part" -> part, "supplier" -> supplier,
      "customer" -> customer, "orders" -> orders, "lineitem" -> lineitem,
      "events" -> events, "documents" -> documents, "embeddings" -> embeddings)
  }

  /** Writes the toolkit tables as `<dir>/<name>.parquet`, the layout
    * `CoreQueries.tbl` reads.
    */
  def writeToolkit(spark: SparkSession, s: ToolkitShape, variant: Int,
      dir: String): Map[String, TableStat] =
    writeAll(toolkitTables(spark, s, variant).map { case (name, df) =>
      (name, df, s"$dir/$name.parquet")
    })

  /** Writes the tables concurrently (each is a handful of small jobs, so
    * one at a time leaves the cores idle), one file per table so input
    * bytes do not depend on parallelism.
    */
  private def writeAll(tables: Iterable[(String, DataFrame, String)]): Map[String, TableStat] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val writes = tables.map { case (name, df, path) =>
      Future {
        df.coalesce(1).write.mode("overwrite").parquet(path)
        name -> TableStat(df.sparkSession.read.parquet(path).count(), Fs.bytesUnder(path))
      }
    }
    Await.result(Future.sequence(writes), Duration.Inf).toMap
  }
}
