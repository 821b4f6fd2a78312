package graftbench

import graft.entities.Specs
import graft.entities.Specs.Field
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, LocalDate, ZoneOffset}
import scala.collection.mutable

/** A seeded ghcrawler-shaped crawl corpus.
  *
  * The document shapes come from `graft.entities.Specs` itself: an entity
  * carries every field path of every snapshot spec whose predicate selects
  * it, and every array an array-child spec explodes from it. Collections
  * and traffic entities carry their links and arrays. [[Corpus.catalog]]
  * fails if some spec selects no entity the generator emits.
  *
  * Each day mixes new keys, updates, late versions (a `processedAt` older
  * than the key's winning version) and tombstones (`deletedAt` after
  * `processedAt`) in fixed shares. At most one document per key per day,
  * and unique timestamps per key, so the latest-wins winner is always
  * defined. The generator keeps every snapshot-entity version, so the
  * expected contents of the snapshot tables follow from the corpus alone.
  */
object Corpus {

  /** role: "snapshot" (snapshot and array-child specs), "collection" or
    * "traffic". */
  final case class Entity(name: String, role: String, weight: Int,
      fields: Seq[Field], arrays: Seq[(String, StructType)])

  /** The emitted entities, and for each snapshot table the entity names
    * its predicate selects. */
  final case class Catalog(entities: Seq[Entity], tableEntities: Map[String, Seq[String]])

  final case class Mix(fresh: Double, update: Double, late: Double, tombstone: Double)

  /** The entity names the generator emits, with their relative weight in
    * a day. The weights are assumed, not measured on a real crawl:
    * commits and events are given the largest shares, and every entity
    * type some spec reads gets at least one. They decide how many rows
    * each curated table receives per day, and so how the write and
    * compaction time of a day divides between tables. */
  val weights: Seq[(String, Int)] = Seq(
    "commit" -> 12, "PushEvent" -> 10, "issue" -> 8, "pull_request" -> 6,
    "user" -> 6, "repo" -> 6, "issue_comment" -> 5, "IssueCommentEvent" -> 4,
    "PullRequestEvent" -> 4, "IssueEvent" -> 3, "WatchEvent" -> 3,
    "PullRequestReviewCommentEvent" -> 2, "GollumEvent" -> 2, "ReleaseEvent" -> 2,
    "org" -> 2, "team" -> 2, "commit_comment" -> 2, "pull_request_commit" -> 3,
    "pull_request_commit_comment" -> 2, "review_comment" -> 2,
    "collaborators" -> 2, "contributors" -> 2, "teams" -> 1, "stargazers" -> 2,
    "subscribers" -> 1, "members" -> 3,
    "clones" -> 1, "views" -> 1, "referrers" -> 1, "paths" -> 1)

  /** Resolve each emitted name's shape against the specs (one Spark job
    * evaluates every entity predicate). */
  def catalog(spark: SparkSession): Catalog = {
    import spark.implicits._
    val names = weights.map(_._1)
    val specs = Specs.snapshots :+ Specs.repo.snapshot
    val arrays = Specs.arrayChildren
    val preds = specs.map(_.entityPred) ++ arrays.map(_.entityPred)
    val rows = names.toDF("entity_name")
      .select(col("entity_name") +: preds.zipWithIndex.map { case (p, i) =>
        p(col("entity_name")).as(s"p$i") }: _*)
      .collect()
    val hit: Map[String, Seq[Int]] = rows.map(r =>
      r.getString(0) -> preds.indices.filter(i => r.getBoolean(i + 1))).toMap
    val unmatched = preds.indices.filterNot(i => hit.values.exists(_.contains(i)))
    require(unmatched.isEmpty, "specs select no generated entity: " +
      unmatched.map(i => if (i < specs.size) specs(i).table else arrays(i - specs.size).table)
        .mkString(", "))
    val collections = Specs.collections.map(_.entity).toSet
    val traffic = Specs.traffic.map(t => t.entity -> t).toMap
    val missing = (collections ++ traffic.keySet) -- names
    require(missing.isEmpty, s"no generator for entities: ${missing.mkString(", ")}")
    val tableEntities = specs.indices.map(i =>
      specs(i).table -> names.filter(n => hit(n).contains(i))).toMap
    val entities = weights.map { case (name, w) =>
      if (collections(name)) Entity(name, "collection", w, Nil, Nil)
      else traffic.get(name) match {
        case Some(t) => Entity(name, "traffic", w, Nil,
          Seq(t.arrayPath -> StructType.fromDDL(t.elementSchema)))
        case None =>
          val ix = hit(name)
          val fields = ix.filter(_ < specs.size).flatMap(i => specs(i).fields)
            .groupBy(_.path).map(_._2.head).toSeq.sortBy(_.path)
          val arr = ix.filter(_ >= specs.size).map(i => arrays(i - specs.size))
            .map(a => a.arrayPath -> StructType.fromDDL(a.elementSchema)).distinct
          Entity(name, "snapshot", w, fields, arr)
      }
    }
    Catalog(entities, tableEntities)
  }

  final case class Version(key: Int, processed: Long, deleted: Long, day: Int) {
    def effective: Long = if (deleted > processed) deleted else processed
  }

  def iso(epochSec: Long): String = Instant.ofEpochSecond(epochSec).toString

  def urn(entity: String, key: Int): String = s"urn:$entity:$key"

  def dayDir(rawRoot: String, d: LocalDate): Path =
    Paths.get(f"$rawRoot/${d.getYear}%04d/${d.getMonthValue}%02d/${d.getDayOfMonth}%02d")
}

final class Corpus(entities: Seq[Corpus.Entity], seed: Long, mix: Corpus.Mix) {
  import Corpus._

  private val rng = new java.util.Random(seed)
  private val totalWeight = entities.map(_.weight).sum
  private val keyCount = mutable.Map.empty[String, Int].withDefaultValue(0)
  /** Latest effective timestamp per (entity, key), for late versions. */
  private val latest = mutable.Map.empty[(String, Int), Long]
  /** Every snapshot-entity version, the basis of the expected tables. */
  val versions: mutable.Map[String, mutable.ArrayBuffer[Version]] = mutable.Map.empty
  var docsWritten = 0L
  var bytesWritten = 0L

  /** Write one day of documents under `v1/yyyy/MM/dd/` into `files` files.
    * Returns (documents, bytes). */
  def writeDay(rawRoot: String, date: LocalDate, dayIdx: Int, docs: Int,
      files: Int): (Int, Long) = {
    require(docs <= 86400, "one second per document in a day")
    val dir = dayDir(rawRoot, date)
    Files.createDirectories(dir)
    val dayStart = date.atStartOfDay().toEpochSecond(ZoneOffset.UTC)
    val step = 86400 / docs
    // the day's count per entity, by weight, then interleaved across files
    val counts = entities.map(e => e -> math.max(1, docs * e.weight / totalWeight))
    val docsOut = counts.flatMap { case (e, n) => planEntity(e, n) }
    val shuffled = new scala.util.Random(rng.nextLong()).shuffle(docsOut)
    val outs = Array.fill(files)(new java.lang.StringBuilder(1 << 20))
    shuffled.zipWithIndex.foreach { case ((e, kind, key), i) =>
      val processed = kind match {
        case "late" => latest((e.name, key)) - 1 - rng.nextInt(3600)
        case _ => dayStart + i.toLong * step
      }
      val deleted = if (kind == "tombstone") processed + 3600 else -1L
      if (e.role == "snapshot") {
        versions.getOrElseUpdate(e.name, mutable.ArrayBuffer.empty) +=
          Version(key, processed, deleted, dayIdx)
      }
      val eff = if (deleted > processed) deleted else processed
      latest((e.name, key)) = math.max(latest.getOrElse((e.name, key), Long.MinValue), eff)
      val sb = outs(i % files)
      Doc.write(sb, document(e, key, processed, deleted, dayIdx, i))
      sb.append('\n')
    }
    var bytes = 0L
    outs.zipWithIndex.foreach { case (sb, f) =>
      val b = sb.toString.getBytes("UTF-8")
      bytes += b.length
      Files.write(dir.resolve(s"part$f.json"), b)
    }
    docsWritten += shuffled.size
    bytesWritten += bytes
    (shuffled.size, bytes)
  }

  /** (entity, kind, key) for one entity's share of a day; at most one
    * document per key. */
  private def planEntity(e: Entity, n: Int): Seq[(Entity, String, Int)] = {
    val existing = keyCount(e.name)
    val wantOld =
      if (existing == 0) 0
      else math.min(existing, math.round(n * (mix.update + mix.late + mix.tombstone)).toInt)
    val old = sampleDistinct(existing, wantOld)
    val lateN = math.round(wantOld * mix.late / (mix.update + mix.late + mix.tombstone)).toInt
    val tombN = math.round(wantOld * mix.tombstone / (mix.update + mix.late + mix.tombstone)).toInt
    val oldKinds = old.zipWithIndex.map { case (k, i) =>
      val kind = if (i < lateN) "late" else if (i < lateN + tombN) "tombstone" else "update"
      (e, kind, k)
    }
    val fresh = (0 until (n - old.size)).map(j => (e, "new", existing + j))
    keyCount(e.name) = existing + fresh.size
    oldKinds ++ fresh
  }

  private def sampleDistinct(range: Int, k: Int): Seq[Int] = {
    val picked = mutable.LinkedHashSet.empty[Int]
    while (picked.size < k) picked += rng.nextInt(range)
    picked.toSeq
  }

  private def document(e: Entity, key: Int, processed: Long, deleted: Long,
      dayIdx: Int, ordinal: Int): Doc.Obj = {
    val root = Doc.obj()
    val repoKeys = math.max(1, keyCount("repo"))
    val links = Doc.obj()
    val self = e.role match {
      case "collection" => s"urn:${e.name}:$key:page:$dayIdx:$ordinal"
      case "traffic" => s"urn:repo:$key:${e.name}"
      case _ => urn(e.name, key)
    }
    links("self") = Doc.obj("href" -> self)
    links("repo") = Doc.obj("href" -> urn("repo", if (e.role == "traffic") key else rng.nextInt(repoKeys)))
    val meta = Doc.obj("type" -> e.name, "fetchedAt" -> iso(processed),
      "processedAt" -> iso(processed), "version" -> 7, "links" -> links)
    if (deleted > 0) meta("deletedAt") = iso(deleted)
    root("_metadata") = meta
    e.role match {
      case "collection" =>
        // members pages belong to an org or a team; the rest to a repo
        val origin =
          if (e.name != "members") urn("repo", key)
          else if (key % 2 == 0) urn("org", key) else urn("team", key)
        links("origin") = Doc.obj("href" -> origin)
        links("unique") = Doc.obj("href" -> s"$origin:${e.name}:uniq:$dayIdx")
        if (e.name == "members") {
          if (key % 2 == 0) links("org") = Doc.obj("href" -> origin)
          else links("team") = Doc.obj("href" -> origin)
        }
        val users = math.max(1, keyCount("user"))
        links("resources") = Doc.obj("hrefs" ->
          Seq.fill(1 + rng.nextInt(6))(urn("user", rng.nextInt(users))).distinct)
      case _ =>
        e.fields.foreach { f =>
          if (f.path.startsWith("_metadata.")) Doc.putIfAbsent(root, f.path, value(f.typ))
          else if (rng.nextInt(40) != 0) Doc.put(root, f.path, value(f.typ))
        }
        e.arrays.foreach { case (path, st) =>
          val n = if (e.role == "traffic") 1 + rng.nextInt(3) else rng.nextInt(4)
          Doc.put(root, path, Seq.fill(n)(element(st)))
        }
        // the RepoLog version column: one distinct value per version
        if (e.name == "repo") Doc.put(root, Specs.repo.versionField, iso(processed))
    }
    root
  }

  private def value(typ: String): Any = typ match {
    case "int" => rng.nextInt(1000)
    case "long" => rng.nextInt(1000000).toLong
    case "bool" => rng.nextBoolean()
    case "ts" => iso(1577836800L + rng.nextInt(126230400))
    case _ => "s" + Integer.toString(rng.nextInt(1 << 20), 36)
  }

  private def element(st: StructType): Doc.Obj = {
    val o = Doc.obj()
    st.fields.foreach { f =>
      o(f.name) = f.dataType match {
        case s: StructType => element(s)
        case IntegerType => value("int")
        case LongType => value("long")
        case BooleanType => value("bool")
        case TimestampType => value("ts")
        case _ => value("string")
      }
    }
    o
  }

  /** Winning version per key of each snapshot entity: latest effective
    * timestamp, later ingest day on a tie (Pipelines.mergeOrder). */
  def winners(entity: String): Seq[(String, Long, Long)] =
    versions.getOrElse(entity, Nil).groupBy(_.key).toSeq.map { case (k, vs) =>
      val w = vs.maxBy(v => (v.effective, v.day))
      (urn(entity, k), w.processed, w.deleted)
    }

  /** Every version of an entity at (key, version-column) grain — the
    * RepoLog rows, whose version column is `processedAt`. */
  def allVersions(entity: String): Seq[(String, Long, Long)] =
    versions.getOrElse(entity, Nil).groupBy(v => (v.key, v.processed)).toSeq.map {
      case ((k, _), vs) =>
        val w = vs.maxBy(v => (v.effective, v.day))
        (urn(entity, k), w.processed, w.deleted)
    }
}

/** Tiny JSON document model: ordered objects, arrays, strings, numbers. */
object Doc {
  type Obj = mutable.LinkedHashMap[String, Any]
  def obj(kv: (String, Any)*): Obj = mutable.LinkedHashMap(kv: _*)

  /** Set a dotted path. A leaf never replaces an object already at that
    * path, and an object replaces a leaf on its way. */
  def put(root: Obj, path: String, v: Any): Unit = {
    val parts = path.split('.')
    var cur = root
    parts.init.foreach { p =>
      cur = cur.get(p) match {
        case Some(o: mutable.LinkedHashMap[String, Any] @unchecked) => o
        case _ => val o = obj(); cur(p) = o; o
      }
    }
    cur.get(parts.last) match {
      case Some(_: mutable.LinkedHashMap[_, _]) if !v.isInstanceOf[mutable.LinkedHashMap[_, _]] => ()
      case _ => cur(parts.last) = v
    }
  }

  def putIfAbsent(root: Obj, path: String, v: Any): Unit = {
    val parts = path.split('.')
    var cur: Any = root
    parts.foreach { p =>
      cur = cur match {
        case o: mutable.LinkedHashMap[String, Any] @unchecked => o.getOrElse(p, null)
        case _ => null
      }
    }
    if (cur == null) put(root, path, v)
  }

  def write(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => sb.append("null")
    case s: String =>
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c => sb.append(c)
      }
      sb.append('"')
    case b: Boolean => sb.append(b)
    case i: Int => sb.append(i)
    case l: Long => sb.append(l)
    case o: mutable.LinkedHashMap[String, Any] @unchecked =>
      sb.append('{')
      var first = true
      o.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        write(sb, k); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case s: Seq[Any] @unchecked =>
      sb.append('[')
      s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); write(sb, x) }
      sb.append(']')
    case other => write(sb, other.toString)
  }
}
