package graft.oracle

import scala.collection.mutable

import graft.model.{IndexEntry, RawEntity, RawProperty}

/** In-process, single-threaded transcription of the reference's resolution
  * loops (`/root/reference/src/bin/kg-entities.rs:99-313` and
  * `kg-properties.rs:53-104`) used as the correctness oracle for the
  * distributed builders (SURVEY.md §5.1).
  *
  * One deliberate deviation from the Rust code, shared with the Spark
  * implementation: where the reference's outcome depends on nondeterministic
  * HashMap iteration order, we fix the deterministic interpretation —
  * E1 fully precedes E2's rendered-surface probe, and E3/E4 groups are
  * processed in the explicit O1 order `(max count desc, size asc, key asc)`
  * (which the reference itself sorts by, `kg-entities.rs:224-231`).
  */
object ReferenceOracle {

  final case class Config(
      ignoreTypes: Boolean = false,
      keepMostCommonNonUnique: Boolean = true,
      checkForPopularAliases: Boolean = true)

  def entityIndex(rows: Seq[RawEntity], cfg: Config): Set[IndexEntry] = {
    // keyed maps, mirroring ent_infos / label_to_ents / aliases_to_ents
    val byQid = rows.map(r => r.qid -> r).toMap
    require(byQid.size == rows.size, "entities should be unique")

    // J2: info = last type label after sorting types by type-entity count
    // (stable, ascending), unknown types dropped; else desc (lib.rs:63-72).
    // A null types array (the Rust parser never yields one) reads as empty.
    def infoOf(r: RawEntity): String = {
      if (cfg.ignoreTypes) return r.desc
      val sorted = Option(r.types).getOrElse(Nil).zipWithIndex
        .sortBy { case (t, i) => (byQid.get(t).map(_.count).getOrElse(0L), i) }
        .flatMap { case (t, _) => byQid.get(t).map(_.label) }
      sorted.lastOption.getOrElse(r.desc)
    }

    // A2+A4: globally unique aliases (occurrence count, no per-entity dedup)
    val aliasOcc = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
    rows.foreach(r => r.aliases.foreach(a =>
      aliasOcc.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += r.qid))
    val uniqAlias: Map[String, String] =
      aliasOcc.iterator.filter(_._2.size <= 1).map { case (a, qs) => a -> qs.head }.toMap

    // J3: check_for_more_popular_alias (kg-entities.rs:158-175)
    def overrideFor(surface: String, qid: String): Boolean = {
      if (!cfg.checkForPopularAliases) return false
      uniqAlias.get(surface) match {
        case Some(holder) if holder != qid =>
          byQid(holder).count > byQid(qid).count
        case _ => false
      }
    }

    val slots = mutable.Map.empty[(String, Option[String]), (String, Int)]
    val labelGroups = rows.groupBy(_.label)

    // E1 (deterministic interpretation: complete before E2 probes)
    val e2Pending = mutable.ArrayBuffer.empty[RawEntity]
    labelGroups.toSeq.sortBy(_._1).foreach { case (label, ents) =>
      if (ents.size <= 1 && !overrideFor(label, ents.head.qid)) {
        slots((label, None)) = (ents.head.qid, 0)
      } else e2Pending ++= ents
    }

    // E2: candidate groups keyed (label, info)
    val groups = mutable.Map.empty[(String, String), mutable.ArrayBuffer[RawEntity]]
    e2Pending.foreach { r =>
      val info = infoOf(r)
      if (info.nonEmpty) {
        val rendered = s"${r.label} ($info)"
        if (!slots.contains((rendered, None))) {
          groups.getOrElseUpdate((r.label, info), mutable.ArrayBuffer.empty) += r
        }
      }
    }

    // E3/E4 in O1 order (kg-entities.rs:224-268)
    groups.toSeq
      .sortBy { case ((label, info), ents) =>
        (-ents.map(_.count).max, ents.size, label, info)
      }
      .foreach { case ((label, info), ents) =>
        val repOpt: Option[RawEntity] =
          if (ents.size <= 1) Some(ents.head)
          else if (cfg.keepMostCommonNonUnique)
            // stable ascending sort by count, pop the last
            Some(ents.sortBy(_.count).last)
          else None
        repOpt.foreach { rep =>
          if (slots.contains((label, None)) || overrideFor(label, rep.qid))
            slots((label, Some(info))) = (rep.qid, 1)
          else
            slots((label, None)) = (rep.qid, 0)
        }
      }

    // E5 alias promotion in (count desc, qid asc) order (kg-entities.rs:293-313)
    rows.sortBy(r => (-r.count, r.qid)).foreach { r =>
      val info = infoOf(r)
      r.aliases.foreach { alias =>
        if (!slots.contains((alias, None))) slots((alias, None)) = (r.qid, 2)
        else if (info.nonEmpty && !slots.contains((alias, Some(info))))
          slots((alias, Some(info))) = (r.qid, 3)
      }
    }

    slots.iterator.map { case ((surface, info), (qid, kind)) =>
      IndexEntry(surface, info, qid, kind)
    }.toSet
  }

  /** Property index oracle (`kg-properties.rs:53-104`). Returns
    * (surface, pid, kind 0=Label 1=Alias).
    */
  def propertyIndex(rows: Seq[RawProperty], noAliases: Boolean = false): Set[(String, String, Int)] = {
    val labelToProp = mutable.Map.empty[String, String] // label -> pid
    val infos = mutable.Map.empty[String, RawProperty]
    rows.sortBy(_.seq).foreach { r =>
      labelToProp.get(r.label) match {
        case Some(existing) =>
          if (r.count > infos(existing).count) labelToProp(r.label) = r.pid
        case None => labelToProp(r.label) = r.pid
      }
      infos(r.pid) = r
    }
    val labels = labelToProp.iterator.map { case (l, p) => (l, p, 0) }.toSet
    if (noAliases) return labels
    val aliasCounts = mutable.Map.empty[String, Int]
    infos.values.foreach(_.aliases.foreach(a =>
      aliasCounts(a) = aliasCounts.getOrElse(a, 0) + 1))
    val aliases = for {
      (pid, info) <- infos.toSeq
      a <- info.aliases
      if aliasCounts(a) == 1 && !labelToProp.contains(a)
    } yield (a, pid, 1)
    labels ++ aliases
  }
}
