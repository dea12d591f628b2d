package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{EntityIndexBuilder, EntityIndexConfig, PropertyIndexBuilder}
import graft.pipeline.{Mentions, Triples}

/** The KG-construction operators run against dictionaries/corpora DERIVED
  * deterministically from the driver-harness tables, so the full cascade,
  * mention detection and triple extraction are each checked against an
  * independent pure-SQL DuckDB implementation (Oracles.scala).
  */
object KgQueries {
  import CoreQueries.tbl

  /** S1 — the reference's SPARQL entity-dump query re-expressed in-engine
    * ([[graft.sources.DumpQueries.entityDump]]) over an RDF-shaped (s, p, o)
    * triple table derived from `part`: GROUP_CONCAT-DISTINCT aliases/types
    * with the "; " separator, optional description, sitelink count.
    */
  def s1DumpAgg(s: SparkSession, d: String): DataFrame = {
    val part = tbl(s, d, "part")
    def qid = concat(lit("Q"), col("p_partkey")).as("s")
    val t = part.select(qid, lit("rdfs:label").as("p"), col("p_name").as("o"))
      .unionAll(part.filter(pmod(col("p_partkey"), lit(10)) =!= 9)
        .select(qid, lit("schema:description").as("p"), col("p_type").as("o")))
      .unionAll(part.select(qid, lit("wikibase:sitelinks").as("p"),
        col("p_size").cast("string").as("o")))
      .unionAll(part.select(qid, lit("skos:altLabel").as("p"), col("p_brand").as("o")))
      .unionAll(part.select(qid, lit("skos:altLabel").as("p"),
        element_at(split(col("p_name"), " "), 1).as("o")))
      .unionAll(part.select(qid, lit("wdt:P31").as("p"),
        concat(lit("T"), pmod(col("p_partkey"), lit(7))).as("o")))
    graft.sources.DumpQueries.entityDump(t)
  }

  /** part → entity dump: label = p_name (collides), info/desc = p_type,
    * count = p_size (ties), seq = p_partkey; aliases: p_brand (shared →
    * ambiguous), 'uniq-<id>' every 10th (unique), '<first word> rod' every
    * 7th ≡ 3 (collides with real labels → popular-alias override).
    */
  def entityDumpFromPart(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "part").select(
      concat(lit("Q"), col("p_partkey")).as("qid"),
      col("p_name").as("label"),
      col("p_type").as("desc"),
      col("p_size").cast("long").as("count"),
      array().cast("array<string>").as("types"),
      filter(array(
        col("p_brand"),
        when(pmod(col("p_partkey"), lit(10)) === 0, concat(lit("uniq-"), col("p_partkey"))),
        when(pmod(col("p_partkey"), lit(7)) === 3,
          concat(element_at(split(col("p_name"), " "), 1), lit(" rod")))),
        x => x.isNotNull).as("aliases"),
      col("p_partkey").cast("long").as("seq"))

  /** Full E1–E5 cascade over the part-derived dump (ignoreTypes so the SQL
    * oracle stays finite; J2 is covered by unit tests).
    */
  def kgEntityIndex(s: SparkSession, d: String): DataFrame =
    EntityIndexBuilder.build(entityDumpFromPart(s, d),
      EntityIndexConfig(ignoreTypes = true, keepMostCommonNonUnique = true,
        checkForPopularAliases = true))
      .select(col("surface"), coalesce(col("info"), lit("")).as("info"),
        col("id"), col("kind"))

  /** supplier → property dump: label = 'rel <suppkey%40>' (collides),
    * count = acctbal cents (long), aliases: 'alias <suppkey%60>' (mostly
    * shared) + 'ualias <suppkey>' every 5th (unique).
    */
  def propertyDumpFromSupplier(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "supplier").select(
      concat(lit("P"), col("s_suppkey")).as("pid"),
      concat(lit("rel "), pmod(col("s_suppkey"), lit(40))).as("label"),
      (col("s_acctbal").cast("decimal(18,2)") * 100).cast("long").as("count"),
      filter(array(
        concat(lit("alias "), pmod(col("s_suppkey"), lit(60))),
        when(pmod(col("s_suppkey"), lit(5)) === 0, concat(lit("ualias "), col("s_suppkey")))),
        x => x.isNotNull).as("aliases"),
      array().cast("array<string>").as("inverses"),
      col("s_suppkey").cast("long").as("seq"))

  def kgPropertyIndex(s: SparkSession, d: String): DataFrame =
    PropertyIndexBuilder.build(propertyDumpFromSupplier(s, d))

  /** Corpus for mention detection: one "turn" per brand — the concatenation
    * of its part names in p_partkey order; dictionary = distinct p_name →
    * min partkey. Exercises the n-gram generate + broadcast join + dominance
    * overlap resolution end-to-end against a pure-SQL mirror.
    */
  def kgMentions(s: SparkSession, d: String): DataFrame = {
    // every 10th part per brand keeps turn length bounded (the dominance
    // self-join is quadratic in matches-per-turn by design — real turns are
    // sentences, not 1600-token concatenations)
    val parts = tbl(s, d, "part").filter(pmod(col("p_partkey"), lit(10)) === 0)
    val corpus = parts
      .groupBy(col("p_brand"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("p_partkey"), col("p_name")))),
        x => x.getField("p_name")), " ").as("text"))
      .select(col("p_brand").as("conv_id"), lit(0).as("turn_idx"), col("text"))
    val dict = tbl(s, d, "part")
      .groupBy(col("p_name").as("surface"))
      .agg(min(col("p_partkey")).as("k"))
      .select(col("surface"), concat(lit("Q"), col("k")).as("id"),
        lit(0).as("kind"), lit(false).as("is_prop"), lit(1L).as("weight"))
    Mentions.detect(corpus, dict, maxN = 2)
      .select(col("conv_id").as("brand"), col("span_start"), col("span_end"), col("id"))
  }

  /** Triple extraction over lineitem-derived pre-linked mentions, vs a
    * pure-window SQL mirror of the same subject/object rule.
    */
  def mentionRowsFromLineitem(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "lineitem").select(
      concat(lit("c"), pmod(col("l_orderkey"), lit(50))).as("conv_id"),
      pmod(expr("l_orderkey div 50"), lit(20)).cast("int").as("turn_idx"),
      col("l_linenumber").cast("int").as("span_start"),
      (col("l_linenumber") + 1).cast("int").as("span_end"),
      (pmod(col("l_linenumber"), lit(3)) === 0).as("is_prop"),
      when(pmod(col("l_linenumber"), lit(3)) === 0, concat(lit("P"), col("l_suppkey")))
        .otherwise(concat(lit("Q"), col("l_partkey"))).as("id"),
      col("l_quantity").cast("long").cast("double").as("score"))

  def kgTriples(s: SparkSession, d: String): DataFrame =
    // the pipeline's turn walk: one exchange + one sort + a single pass
    // per conversation
    Triples.extract(mentionRowsFromLineitem(s, d))
      .select("subj", "pred", "obj", "conv_id", "turn_idx")
}
