package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Flags of the reference's `kg-entities` CLI (`kg-entities.rs:17-45`). */
final case class EntityIndexConfig(
    ignoreTypes: Boolean = false,
    keepMostCommonNonUnique: Boolean = true,
    checkForPopularAliases: Boolean = true)

/** Builds the natural-language entity index: `(surface, info?, qid, kind)`.
  *
  * This is a Spark-first re-expression of the sequential resolution cascade in
  * `/root/reference/src/bin/kg-entities.rs:99-313` (E1–E6 in SURVEY.md §2.6).
  * The reference claims `(surface, info?)` slots by iterating hash maps in
  * explicit popularity orders; every "first writer wins" there is provably a
  * per-key top-1, so the whole cascade becomes windows + anti-joins:
  *
  *  - E1  unique plain labels            → group-size-1 filter + override check
  *  - E2  label+info candidate build     → info column + anti-join vs E1 surfaces
  *  - E3/E4 per-(label,info) resolution  → rep = top-1 by (count desc, seq desc);
  *        the reference's sequential O1-ordered claiming of the `(label, None)`
  *        slot (`kg-entities.rs:224-268`) collapses to: the FIRST group in O1
  *        order with no popular-alias override takes the plain slot, all other
  *        groups take `(label, Some(info))` — a running-sum window per label.
  *  - E5  alias promotion                → two rounds of anti-join + per-surface
  *        top-1 by (count desc, qid asc), mirroring the popularity iteration
  *        order of `kg-entities.rs:295-298`.
  *
  * All cross-group interaction in the Rust code happens through keys that share
  * the same `label` string (or, for E2's rendered-surface probe, through the
  * fully-materialized E1 set), so the encoding is exact — verified against an
  * in-process transcription of the Rust loops (test `ReferenceOracle`).
  *
  * Scale notes: no driver-side state; the shuffles are the label/alias
  * hash-partitions, the window sorts, and two type-dictionary-sized ones in
  * type resolution (J2): the distinct type ids and the single-row type map.
  * J2 resolves each entity's types inside its own row against the broadcast
  * type map, so it neither regroups nor re-joins the entity rows. Spark's
  * map lookup scans the keys, so each type reference costs O(type
  * entities): cheap while the type dictionary stays small (n/50 entities in
  * the synthetic dumps), a cost to revisit before dumps with millions of
  * distinct types.
  */
object EntityIndexBuilder {

  import graft.model.IndexKind._

  /** J2 (`kg-entities.rs:144-151`): per entity sort its `types` by the type
    * entity's own count (ascending, stable on input position), map ids →
    * labels dropping unknown types; `info` = last type label, else desc
    * (`lib.rs:63-72`).
    *
    * The last type is the resolvable one with the lexicographic-max
    * (count, array position), a total order within an entity, so each row
    * resolves its own `types` against ONE map of the type entities
    * (type id → (count, label)), joined as a single-row broadcast. qids are
    * unique (A3), so the map has no duplicate keys; a dump that repeats a
    * qid used as a type fails the build (`DUPLICATED_MAP_KEY`), as the
    * reference panics on it. Null or empty `types`, and all-dangling types,
    * fall back to `desc`.
    */
  def withInfo(entities: DataFrame, cfg: EntityIndexConfig): DataFrame = {
    if (cfg.ignoreTypes)
      return entities.withColumn("info", col("desc"))
    val typeIds = entities
      .select(explode(col("types")).as("tid")).distinct()
    val typeMap = entities
      .join(broadcast(typeIds), col("qid") === col("tid"), "left_semi")
      .agg(map_from_entries(collect_list(struct(col("qid"),
        struct(col("count").as("t_count"), col("label").as("t_label")))))
        .as("type_map"))
    val resolved = filter(
      transform(col("types"), (tid, pos) => {
        val t = element_at(col("type_map"), tid)
        struct(t("t_count").as("t_count"), pos.as("t_pos"), t("t_label").as("t_label"))
      }),
      t => t("t_label").isNotNull)
    entities
      .crossJoin(broadcast(typeMap))
      .withColumn("info", coalesce(array_max(resolved)("t_label"), col("desc")))
      .drop("type_map")
  }

  /** A2+A4 (`kg-entities.rs:129-136,156`): aliases held by exactly one entity
    * occurrence. Occurrences are NOT deduped per entity — an alias listed
    * twice by one entity is ambiguous in the reference too. The holder is
    * carried as its `seq` (the unique input position, a surrogate for its
    * qid): with only long buffers the aggregate plans as a HashAggregate,
    * where a string `first` buffer forces a SortAggregate.
    */
  def uniqueAliases(entities: DataFrame): DataFrame =
    entities
      .select(col("seq").as("a_seq"), col("count").as("a_count"),
        explode(col("aliases")).as("a_surface"))
      .groupBy(col("a_surface"))
      // only n ≤ 1 groups survive, so `first` IS the (single) holder —
      // deterministic for every kept row
      .agg(count(lit(1)).as("a_n"),
        first(col("a_seq")).as("h_seq"), first(col("a_count")).as("h_count"))
      .filter(col("a_n") <= 1)
      .select(col("a_surface"), col("h_seq").as("a_seq"),
        col("h_count").as("a_count"))

  /** J3 (`kg-entities.rs:158-175`): `check_for_more_popular_alias(label, ent)`
    * — true iff some OTHER entity holds `surfaceCol` as a globally-unique
    * alias with a strictly higher count. Adds boolean column `override`.
    */
  private def withOverride(
      df: DataFrame, uniqAlias: DataFrame, surfaceCol: String,
      cfg: EntityIndexConfig): DataFrame = {
    if (!cfg.checkForPopularAliases) return df.withColumn("override", lit(false))
    df.join(uniqAlias, df(surfaceCol) === uniqAlias("a_surface"), "left")
      .withColumn(
        "override",
        col("a_seq").isNotNull && col("a_seq") =!= col("seq") &&
          col("a_count") > col("count"))
      .drop("a_surface", "a_seq", "a_count")
  }

  /** Full cascade. Input: canonical entity schema
    * `(qid, label, desc, count, types, aliases, seq)` (unique qids — asserted
    * upstream per `kg-entities.rs:140`). Output: `(surface, info, id, kind)`.
    */
  def build(entities: DataFrame, cfg: EntityIndexConfig = EntityIndexConfig()): DataFrame =
    buildTracked(entities, cfg)._1

  /** [[build]] plus handles to the persisted intermediates, so callers that
    * materialize the result (e.g. the pipeline's stage write) can
    * `unpersist` them instead of leaking cached blocks until LRU pressure.
    */
  def buildTracked(entities0: DataFrame,
      cfg: EntityIndexConfig = EntityIndexConfig()): (DataFrame, Seq[DataFrame]) =
    buildTracked(entities0, cfg, persistInput = !cfg.ignoreTypes)

  /** @param persistInput cache the input dump for the duration of the build.
    * Pays when the dump plan is expensive or read often: the non-ignoreTypes
    * cascade reads it FOUR times (type-id distinct, type-map semi-join, the
    * main row set, the alias explode), and the pipeline's dictionary-weights
    * join and nodes stage read it again, so
    * [[graft.pipeline.KgPipeline.run]] forces `true`. Under `ignoreTypes`
    * the dump is read exactly TWICE ([[withInfo]] degenerates to a pure
    * projection), and for a columnar source two column-pruned scans are
    * cheaper than one full-width cache materialization plus two cache reads
    * (the persist-always r6 draft cost kg_entity_index ~15% at sf0.1) —
    * hence the default `!cfg.ignoreTypes`. The dump is KG-sized (~GB at
    * Wikidata scale — NOT the corpus), so caching it when it pays is the
    * coarse-codebook-style contract; released with the other handles. A
    * dump the CALLER persisted is not among the handles when
    * `persistInput` is false, so releasing them leaves the caller's cache.
    */
  def buildTracked(entities0: DataFrame, cfg: EntityIndexConfig,
      persistInput: Boolean): (DataFrame, Seq[DataFrame]) = {
    val (index, caches) = buildWithCaches(entities0, cfg, persistInput)
    (index, caches.all)
  }

  /** The cascade's persisted intermediates by name. `input` is the dump,
    * present only when the build itself cached it.
    */
  final case class Caches(cand: DataFrame, e34: DataFrame, aliasCand: DataFrame,
      plainWinners: DataFrame, input: Option[DataFrame]) {
    def all: Seq[DataFrame] = Seq(cand, e34, aliasCand, plainWinners) ++ input
  }

  /** [[buildTracked]] with the handles as named [[Caches]]. */
  def buildWithCaches(entities0: DataFrame, cfg: EntityIndexConfig,
      persistInput: Boolean): (DataFrame, Caches) = {
    val entities = if (persistInput) entities0.persist() else entities0
    val withInf = withInfo(entities, cfg)
    val uniq = uniqueAliases(entities)

    val wLabel = Window.partitionBy(col("label"))
    // desc/types are consumed by withInfo and never read again — dropping
    // them keeps the cache narrow; aliases stay because E5's candidate set
    // derives from this cache (re-deriving it from `withInf` would resolve
    // the types a second time on the non-ignoreTypes path)
    val cand = withOverride(
      withInf.withColumn("grp_n", count(lit(1)).over(wLabel)), uniq, "label", cfg)
      .drop("desc", "types")
      .persist()

    // ---- E1: unique plain labels (kg-entities.rs:186-196) ----
    val e1 = cand
      .filter(col("grp_n") === 1 && !col("override"))
      .select(col("label").as("surface"), lit(null: String).as("info"),
        col("qid").as("id"), lit(Label).as("kind"))

    // ---- E2: label+info candidates (kg-entities.rs:197-213) ----
    // groups that were NOT resolved by E1, with non-empty info, whose rendered
    // "label (info)" does not collide with an E1 plain label.
    val e2 = cand
      .filter(col("grp_n") > 1 || col("override"))
      .filter(col("info") =!= "")
      .withColumn("rendered", concat(col("label"), lit(" ("), col("info"), lit(")")))
      .join(e1.select(col("surface").as("e1_surface")),
        col("rendered") === col("e1_surface"), "left_anti")

    // ---- E3/E4: per-(label,info) group resolution (kg-entities.rs:224-268) ----
    // representative of each group: highest count, ties → LAST input row
    // (Rust stable sort + pop, kg-entities.rs:249-251). (count, seq) pairs
    // are unique within a group (seq is the unique input position), so the
    // top-1 under (count desc, seq desc) is exactly the lexicographic
    // max_by — ONE hash aggregate replaces the round-4 g_size/g_max window
    // + sort + row_number chain (two full window sorts over every E2 row;
    // profiled as the build's hottest stages at sf0.1).
    // ONE label exchange shared by the group aggregate and the O1 window
    // (r6, guide §2.4): hashpartitioning(label) satisfies the aggregate's
    // (label, info) clustering AND the window's label partitioning, so the
    // explicit repartition replaces TWO exchanges (one per operator) with
    // one. The traded-away map-side combine buys little here: (label, info)
    // groups are mostly singletons (collisions are the exception), so the
    // partial aggregate barely shrank what the second exchange carried.
    val groups0 = e2
      .repartition(col("label"))
      .groupBy(col("label"), col("info"))
      .agg(count(lit(1)).as("g_size"), max(col("count")).as("g_max"),
        max_by(struct(col("qid"), col("count"), col("override")),
          struct(col("count"), col("seq"))).as("rep"))
      .select(col("label"), col("info"), col("g_size"), col("g_max"),
        col("rep.qid").as("qid"), col("rep.count").as("count"),
        col("rep.override").as("override"))
    // !keepMostCommonNonUnique: multi-entity groups are dropped entirely
    // (only counted as ents_left stats in the reference).
    val groups =
      if (cfg.keepMostCommonNonUnique) groups0
      else groups0.filter(col("g_size") === 1)
    // The plain (label, None) slot: never taken by E1 for these labels (E1 and
    // E2 routing are mutually exclusive per label), so the first group in O1
    // order — (max count desc, size asc, key asc) per kg-entities.rs:224-231 —
    // whose representative has no override claims it; the rest get LabelInfo.
    // NOTE: override here is the representative entity's override, re-checked
    // at claim time in the reference (kg-entities.rs:235,252).
    val wO1 = Window
      .partitionBy(col("label"))
      .orderBy(col("g_max").desc, col("g_size").asc, col("info").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // persisted: FOUR consumers read this cascade (e3Plain + e34Info in the
    // output union, takenPlain under E5's plain round, takenPair under the
    // info round) — unpersisted it re-ran the two window sorts per consumer,
    // the dominant cost of the whole build (profiled at sf0.1: the cascade
    // stages held ~2/3 of executor time, ×3 evaluations)
    val e34 = groups
      .withColumn("eligible", !col("override"))
      .withColumn("cum_eligible", sum(when(col("eligible"), 1).otherwise(0)).over(wO1))
      .withColumn("is_plain", col("eligible") && col("cum_eligible") === 1)
      .persist()
    val e3Plain = e34
      .filter(col("is_plain"))
      .select(col("label").as("surface"), lit(null: String).as("info"),
        col("qid").as("id"), lit(Label).as("kind"))
    val e34Info = e34
      .filter(!col("is_plain"))
      .select(col("label").as("surface"), col("info"),
        col("qid").as("id"), lit(LabelInfo).as("kind"))

    // ---- E5: alias promotion (kg-entities.rs:293-313) ----
    // Entities iterate in (count desc, qid asc) order; each alias occurrence
    // claims (alias, None), falling back to (alias, info). An alias listed
    // twice by one entity can claim BOTH slots in the reference, so we track
    // per-(qid, alias) occurrence counts instead of deduping.
    val takenPlain = e1.select(col("surface"))
      .union(e3Plain.select(col("surface")))
    val takenPair = e34Info.select(col("surface"), col("info"))
    // count/info are functionally dependent on qid (one cand row per
    // entity), so grouping BY them instead of first()-aggregating them
    // keeps the groups identical while turning the aggregate's buffer into
    // a single long — a codegen'd HashAggregate with map-side combine
    // instead of the r5 SortAggregate (string first() buffers are not
    // hash-mutable) and its two sorts (r6, guide §2.4).
    val aliasCand = cand
      .select(col("qid"), col("count"), col("info"), explode(col("aliases")).as("alias"))
      .groupBy(col("qid"), col("alias"), col("count"), col("info"))
      .agg(count(lit(1)).as("occ_n"))
      .select(col("qid"), col("alias"), col("count"), col("info"), col("occ_n"))
      .persist()
    val wAlias = Window.partitionBy(col("alias"))
      .orderBy(col("count").desc, col("qid").asc)
    val plainWinners = aliasCand
      .join(takenPlain, aliasCand("alias") === takenPlain("surface"), "left_anti")
      .withColumn("rn", row_number().over(wAlias))
      .filter(col("rn") === 1)
      .persist()
    val e5Plain = plainWinners
      .select(col("alias").as("surface"), lit(null: String).as("info"),
        col("qid").as("id"), lit(Alias).as("kind"))
    // info-round participants: every occurrence that did not itself take the
    // plain slot — i.e. all candidates except plain winners whose alias was
    // listed only once by that entity.
    val wAliasInfo = Window.partitionBy(col("alias"), col("info"))
      .orderBy(col("count").desc, col("qid").asc)
    val e5Info = aliasCand
      .join(plainWinners
          .filter(col("occ_n") === 1)
          .select(col("alias").as("w_alias"), col("qid").as("w_qid")),
        aliasCand("alias") === col("w_alias") && aliasCand("qid") === col("w_qid"),
        "left_anti")
      .filter(col("info") =!= "")
      .join(takenPair,
        aliasCand("alias") === takenPair("surface") &&
          aliasCand("info") === takenPair("info"), "left_anti")
      .withColumn("rn", row_number().over(wAliasInfo))
      .filter(col("rn") === 1)
      .select(col("alias").as("surface"), col("info"),
        col("qid").as("id"), lit(AliasInfo).as("kind"))

    (e1.union(e3Plain).union(e34Info).union(e5Plain).union(e5Info),
      Caches(cand, e34, aliasCand, plainWinners, Option.when(persistInput)(entities)))
  }
}
