package graft.sinks

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Idempotent merge-by-key sink (reference K1/K2/K7: Cassandra `append`
  * into a `(symbol, timestamp)` primary key ⇒ last-writer-wins upsert —
  * `ProcessStockStream.py:65-89`, `ddl.cql:2-25`).
  *
  * Offline there is no Cassandra connector, so the store is a
  * hash-bucketed, manifest-versioned parquet table — the same layout
  * idea as a Delta/Iceberg MERGE target, scaled down to files:
  *
  *  - rows live in `gen<G>/_bucket=<B>/` parquet dirs, bucketed by
  *    `pmod(xxhash64(keys), nBuckets)`;
  *  - each version's manifest maps bucket → the generation holding its
  *    current data; untouched buckets keep pointing at old generations;
  *  - `_CURRENT` is flipped atomically to the new manifest version.
  *
  * A merge rewrites only the buckets the batch touches, in one Spark
  * job with one exchange: the touched buckets' stored rows and the
  * batch are hash-partitioned once on `_bucket`, a last-writer-wins
  * window partitioned by `(_bucket, keys…)` runs on that partitioning,
  * and each task writes one file per bucket it holds. At streaming
  * batch sizes (thousands of rows) a merge costs per FILE, not per
  * byte: each bucket file is one write task plus a handful of Hadoop
  * file operations, so the bucket count is sized to the session's
  * shuffle width (the streaming DAG passes
  * `spark.sql.shuffle.partitions`) rather than to table size.
  * Replaying a failed batch recomputes the same target version and
  * overwrites the same generation dir — idempotent, matching the
  * reference's effectively-exactly-once contract (SURVEY.md §2.8 T12).
  * A real cluster sink (Cassandra / Delta MERGE / Iceberg upsert) drops
  * into the same `foreachBatch` seam.
  */
object Upsert {

  /** Bucket count of a store whose creating merge names none (the
    * registry's batch stores); the streaming DAG passes its shuffle
    * width instead. */
  val defaultBuckets = 16

  private def pointerPath(root: String) = Paths.get(root, "_CURRENT")
  private def manifestPath(root: String, v: Long) =
    Paths.get(root, s"manifest_v$v.json")

  /** Materialize a directory listing and CLOSE the underlying stream —
    * `Files.list` holds an open file descriptor until closed, and a
    * store with many versions/generations listed once per merge/expire
    * would otherwise leak one fd per call (ADVICE r15). */
  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  def currentVersion(root: String): Option[Long] = {
    val p = pointerPath(root)
    val fromPointer =
      if (Files.exists(p)) new String(Files.readAllBytes(p)).trim.toLongOption
      else None
    // Fallback: a torn/empty pointer (crash before the atomic flip
    // landed) must not make the table unreadable — recover the highest
    // manifest version present.
    fromPointer.orElse {
      if (!Files.isDirectory(Paths.get(root))) None
      else manifestVersions(root).maxOption
    }
  }

  private def manifestVersions(root: String): Seq[Long] =
    listDir(Paths.get(root))
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("manifest_v") =>
        s.stripPrefix("manifest_v").stripSuffix(".json").toLongOption }
      .flatten

  /** Manifest: bucket count + bucketing columns (both fixed at table
    * creation) + bucket→gen map + the optional LAST APPLIED BATCH id
    * (for sinks whose merge is NOT naturally idempotent — the additive
    * incremental-MV merge — so data commit and replay marker ride the
    * same atomic pointer flip; see [[lastAppliedBatch]]), as a single
    * hand-rolled JSON object (no JSON lib in scope).
    *
    * `schema` (round 17) is the table's UNIFIED logical schema as a
    * Spark DDL string — the schema-EVOLUTION ledger. Each merge unions
    * the incoming batch's columns into it (new columns append,
    * everything nullable), and every read resolves the version's
    * recorded schema and hands it to the parquet reader EXPLICITLY:
    * generations written before a column existed simply serve NULL for
    * it, with zero footer sniffing (`mergeSchema` reads every file
    * footer — metadata cost ∝ files, paid again on every query) and
    * zero history rewrite (the thing evolution exists to avoid).
    * Because the schema rides the versioned manifest, it time-travels
    * with the data: [[readVersion]] of a pre-evolution version serves
    * the ORIGINAL columns. Absent on manifests written before round 17
    * → reads fall back to footer-resolved schemas unchanged. */
  private case class Manifest(nBuckets: Int, bucketBy: Seq[String],
      buckets: Map[Int, String], appliedBatch: Option[Long] = None,
      schema: Option[String] = None)

  private def manifestJson(m: Manifest): String = {
    val entries = m.buckets.toSeq.sortBy(_._1)
      .map { case (b, g) => s""""$b":"$g"""" }.mkString(",")
    val ab = m.appliedBatch.map(id => s""","ab":$id""").getOrElse("")
    // DDL strings contain no double quotes for the engine's identifier
    // set (guarded at write in merge); commas/parens are JSON-safe
    val sch = m.schema.map(s => s""","sch":"$s"""").getOrElse("")
    s"""{"nb":${m.nBuckets},"by":"${m.bucketBy.mkString(",")}"$ab$sch,"buckets":{$entries}}"""
  }

  private def writeManifest(root: String, v: Long, m: Manifest): Unit =
    Files.write(manifestPath(root, v), manifestJson(m).getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)

  /** Write-to-temp + ATOMIC_MOVE: a crash mid-write can never leave a
    * truncated/empty `target` (readers see either the old content or
    * the new one, never garbage). */
  private def atomicWrite(tmp: java.nio.file.Path, target: java.nio.file.Path,
      bytes: Array[Byte]): Unit = {
    Files.write(tmp, bytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Commits version `v`: the atomic `_CURRENT` pointer flip. */
  private def flipPointer(root: String, v: Long): Unit =
    atomicWrite(Paths.get(root, s"_CURRENT.tmp.$v"), pointerPath(root),
      v.toString.getBytes)

  /** Storage GC: deletes the manifests older than version `oldest`,
    * then every generation dir that no `live` (generation, bucket) pair
    * references. Inside surviving generations, bucket dirs that no live
    * pair points at are stale copies (the bucket was since rewritten
    * elsewhere) and go too, or disk grows by one stale copy per rewrite
    * for as long as ANY bucket keeps the generation alive. Manifests go
    * first, so no surviving manifest points at deleted data. Returns
    * the number of manifests deleted. */
  private def gc(root: String, live: Set[(String, Int)], oldest: Long): Int = {
    val dead = manifestVersions(root).filter(_ < oldest)
    dead.foreach(v => Files.deleteIfExists(manifestPath(root, v)))
    val keep = live.map(_._1)
    listDir(Paths.get(root)).foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("gen") && Files.isDirectory(p)) {
        if (!keep.contains(name)) rmTree(p)
        else listDir(p)
          .filter(_.getFileName.toString.startsWith("_bucket="))
          .foreach { bp =>
            bp.getFileName.toString.stripPrefix("_bucket=").toIntOption
              .foreach { b => if (!live.contains((name, b))) rmTree(bp) }
          }
      }
    }
    dead.size
  }

  private val entryRe = """"(\d+)"\s*:\s*"([^"]+)"""".r
  private val nbRe = """"nb"\s*:\s*(\d+)""".r
  private val byRe = """"by"\s*:\s*"([^"]*)"""".r
  private val abRe = """"ab"\s*:\s*(-?\d+)""".r
  private val schRe = """"sch"\s*:\s*"([^"]*)"""".r

  private def readManifest(root: String, v: Long): Manifest = {
    val s = new String(Files.readAllBytes(manifestPath(root, v)))
    val nb = nbRe.findFirstMatchIn(s).map(_.group(1).toInt)
      .getOrElse(defaultBuckets)
    val by = byRe.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
      .split(",").toSeq.filter(_.nonEmpty)
    val ab = abRe.findFirstMatchIn(s).map(_.group(1).toLong)
    val sch = schRe.findFirstMatchIn(s).map(_.group(1))
    val inner = s.drop(s.indexOf("buckets"))
    Manifest(nb, by,
      entryRe.findAllMatchIn(inner)
        .map(m => m.group(1).toInt -> m.group(2)).toMap, ab, sch)
  }

  /** The schema a generation scan should be read with: the manifest's
    * recorded DDL (all fields forced nullable — a column added later is
    * physically absent from older files and must read as NULL), or None
    * for pre-evolution manifests (footer-resolved, the legacy path). */
  private def manifestReadSchema(m: Manifest): Option[StructType] =
    m.schema.map { ddl =>
      StructType(StructType.fromDDL(ddl).fields.map(_.copy(nullable = true)))
    }

  private def readWithSchema(spark: SparkSession, m: Manifest,
      paths: Seq[String]): DataFrame =
    manifestReadSchema(m) match {
      case Some(st) => spark.read.schema(st).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The last batch id recorded via `merge(..., appliedBatchId = …)` on
    * the CURRENT version — the crash-safe replay guard for sinks whose
    * merge is not naturally idempotent: the id is part of the manifest,
    * so it becomes visible in the SAME atomic `_CURRENT` flip that
    * commits the data. A replayed batch either sees its own id (data
    * committed → skip) or doesn't (data not committed → re-merge); no
    * window where the two disagree. */
  def lastAppliedBatch(root: String): Option[Long] =
    currentVersion(root).flatMap(v => readManifest(root, v).appliedBatch)

  /** RESTORE-style rollback (K-tier extension; the Delta/Iceberg
    * RESTORE semantics): commit the retained snapshot `version` as a
    * NEW version whose manifest is a byte-copy of the target's. The
    * pointer only ever moves forward and version numbers never reuse,
    * so replay markers and the GC chain stay coherent: the next
    * [[merge]]'s GC keeps exactly the generations the restored and
    * following manifests reference. No data files move — a rollback is
    * a metadata commit, O(1) regardless of table size. Retention is
    * [[merge]]'s "last two": a manifest that still exists implies its
    * generations were kept, so existence is the full safety check.
    * Returns the new version. */
  def rollback(root: String, version: Long): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no versioned table at $root"))
    require(Files.exists(manifestPath(root, version)),
      s"version $version is beyond retention (manifest GC'd)")
    val next = cur + 1
    writeManifest(root, next, readManifest(root, version))
    flipPointer(root, next)
    next
  }

  /** Snapshot EXPIRY (K-tier extension; the Delta VACUUM / Iceberg
    * expireSnapshots lifecycle verb): drop every manifest older than
    * the newest `keepLast` and physically delete generation data no
    * surviving manifest references — the storage-reclamation half of
    * the version chain whose read half is [[readVersion]] and whose
    * metadata half is [[rollback]]. Time travel to an expired version
    * returns None afterwards (the same contract as any past-retention
    * read); the current read is untouched. Ordering is pointer-safe:
    * dead manifests go first, then only data referenced by NO
    * surviving manifest — a reader that resolved the pointer before
    * the call still scans its snapshot unless that snapshot is the one
    * being expired (the retention trade every table format documents).
    * O(versions + generations) metadata work, no data rewrite.
    * Returns the number of manifests expired. */
  def expire(root: String, keepLast: Int = 1): Int = {
    require(keepLast >= 1, "must keep at least the current version")
    val cur = currentVersion(root).getOrElse(return 0)
    val cutoff = cur - keepLast + 1
    val live: Set[(String, Int)] = manifestVersions(root).filter(_ >= cutoff)
      .flatMap(v => readManifest(root, v).buckets.toSeq
        .map { case (b, g) => (g, b) }).toSet
    gc(root, live, cutoff)
  }

  /** K19 (extension; the Delta OPTIMIZE / Iceberg rewriteDataFiles
    * lifecycle verb): rewrite every live bucket of the CURRENT version
    * into ONE fresh generation with exactly one file per bucket,
    * committed as a new version. [[merge]] keeps writes proportional to
    * the touched data, which is what makes the table continuously
    * writable — but it fragments: after enough partial merges the
    * current manifest references many generations and each serving read
    * opens that many directory scans. Compaction is the counterweight:
    * a full rewrite of LIVE data only (cost ∝ current table, not
    * history), after which every bucket is one file in one generation.
    * The rewrite is distributed (repartition on `_bucket`, so each
    * bucket's rows land in exactly one task → one output file) and the
    * commit is the same atomic pointer flip as [[merge]]/[[rollback]] —
    * readers see the old layout or the new one, never a mix. The replay
    * marker ([[lastAppliedBatch]]) is carried forward unchanged.
    * Version semantics are preserved: the pre-compaction version stays
    * time-travel-readable (its generations survive GC by the usual
    * keep-previous rule). Unconditional by design — compacting an
    * already-compact table is a cheap idempotent rewrite, and the "is
    * it worth it" policy belongs to the caller ([[liveGenerations]] is
    * the probe). Returns the number of generations consolidated. */
  def compact(spark: SparkSession, root: String): Int = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no versioned table at $root"))
    val manifest = readManifest(root, cur)
    if (manifest.buckets.isEmpty) return 0
    val gensBefore = manifest.buckets.values.toSet.size
    val next = cur + 1
    val paths = manifest.buckets.toSeq.sortBy(_._1)
      .map { case (b, g) => s"$root/$g/_bucket=$b" }
    // the rewrite reads with the recorded schema, so compaction also
    // PHYSICALLY homogenizes an evolved table: post-compact every file
    // carries the full unified schema (explicit NULLs where a column
    // postdated the row)
    readWithSchema(spark, manifest, paths)
      .withColumn("_bucket",
        pmod(xxhash64(manifest.bucketBy.map(col): _*),
          lit(manifest.nBuckets)).cast("int"))
      .repartition(manifest.nBuckets, col("_bucket"))
      .write.mode("overwrite").partitionBy("_bucket")
      .parquet(s"$root/gen$next")
    writeManifest(root, next, Manifest(manifest.nBuckets, manifest.bucketBy,
      manifest.buckets.keys.map(b => b -> s"gen$next").toMap,
      manifest.appliedBatch, manifest.schema))
    flipPointer(root, next)
    // same keep-previous rule as merge: the new and the previous
    // manifest's generations survive
    gc(root,
      (Seq.tabulate(manifest.nBuckets)(b => (s"gen$next", b)) ++
        manifest.buckets.toSeq.map { case (b, g) => (g, b) }).toSet,
      next - 1)
    gensBefore
  }

  /** Number of distinct generations the CURRENT manifest references —
    * the fragmentation probe [[compact]] exists to drive to 1. Zero if
    * the table doesn't exist yet. */
  def liveGenerations(root: String): Int =
    currentVersion(root)
      .map(v => readManifest(root, v).buckets.values.toSet.size)
      .getOrElse(0)

  /** K23 (extension, r17) — GDPR / right-to-be-forgotten PURGE: remove
    * every row matching the given bucketBy-key values from the CURRENT
    * version AND every retained historical version — the compliance
    * verb (Delta VACUUM-after-DELETE / Iceberg rewrite-then-expire
    * composite; Cassandra's tombstone+compaction analog with the
    * history half actually erased). It is deliberately the ONE verb that
    * violates snapshot immutability: a legal erasure request applies
    * to the data wherever it is readable, and time travel back to the
    * purged rows is precisely what must stop working — so purge
    * rewrites retained manifests IN PLACE (atomic temp+move each)
    * rather than committing a new version, and [[readVersion]] of any
    * retained version serves the purged history afterwards.
    *
    * `keys` is a DataFrame whose columns are exactly the table's
    * bucketBy columns (erasure-request grain: entities, not rows —
    * collected to the driver, bounded by the request size, never by
    * the table).
    *
    * Cost: each requested key hashes to ONE bucket (the same
    * `pmod(xxhash64(bucketBy), nBuckets)` the write path computes), so
    * the physical work is a filtered rewrite of only the affected
    * (generation, bucket) dirs across retained history — cost ∝
    * affected buckets × retained versions, never table-sized. Dirs
    * with zero matching rows are probed (one count on a pruned scan)
    * and left untouched, which also makes re-running a purge a
    * metadata-only no-op — the idempotence that lets a compliance job
    * retry until clean. Ordering is crash-safe for the data (new dirs
    * are fully written before any manifest repoints, old dirs are
    * deleted only after EVERY retained manifest has repointed); a
    * crash mid-way leaves a consistent table where the purge simply
    * has not finished, and the re-run completes it.
    *
    * Returns the number of physical rows removed (a row living in two
    * retained generations counts once per physical copy). */
  def purge(spark: SparkSession, root: String, keys: DataFrame): Long = {
    val cur = currentVersion(root).getOrElse(return 0L)
    val versions = listDir(Paths.get(root))
      .map(_.getFileName.toString)
      .filter(_.startsWith("manifest_v"))
      .flatMap(_.stripPrefix("manifest_v").stripSuffix(".json").toLongOption)
      .sorted
    val manifests = versions.map(v => v -> readManifest(root, v))
    val m0 = manifests.last._2
    require(keys.columns.sorted.sameElements(m0.bucketBy.sorted),
      s"purge keys must carry exactly the bucketBy columns ${m0.bucketBy}")
    val keyDf = keys.select(m0.bucketBy.map(col): _*).distinct().persist()
    // same hash, same engine: the key→bucket map is computed by the
    // exact write-path expression, so the pruned scan can never miss
    val affected: Set[Int] = keyDf
      .select(pmod(xxhash64(m0.bucketBy.map(col): _*), lit(m0.nBuckets))
        .cast("int").as("_bucket"))
      .distinct().collect().map(_.getInt(0)).toSet
    // distinct physical dirs any retained manifest references for an
    // affected bucket (a generation is shared across versions — each
    // dir is rewritten once, however many manifests point at it)
    val pairs: Seq[(String, Int)] = manifests
      .flatMap { case (_, m) => m.buckets.toSeq.collect {
        case (b, g) if affected.contains(b) => (g, b) } }
      .distinct
    var purged = 0L
    val remap = scala.collection.mutable.Map[(String, Int), String]()
    pairs.foreach { case (g, b) =>
      val dir = s"$root/$g/_bucket=$b"
      if (Files.isDirectory(Paths.get(dir))) {
        // physical (footer) schema on purpose: the dir predates any
        // ledger the newest manifest records, and the rewrite must
        // preserve the files byte-compatibly for every manifest that
        // reads them through ITS OWN recorded schema
        val df = spark.read.parquet(dir)
        val hits = df.join(broadcast(keyDf), m0.bucketBy, "left_semi").count()
        if (hits > 0) {
          val ng = s"${g}purge$cur"
          df.join(broadcast(keyDf), m0.bucketBy, "left_anti")
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$root/$ng/_bucket=$b")
          remap((g, b)) = ng
          purged += hits
        }
      }
    }
    keyDf.unpersist()
    if (remap.isEmpty) return 0L
    // repoint every retained manifest (each rewrite is its own atomic
    // temp+move — readers of any version see the old dirs or the new,
    // never a torn manifest)
    manifests.foreach { case (v, m) =>
      val nb = m.buckets.map { case (b, g) =>
        b -> remap.getOrElse((g, b), g) }
      if (nb != m.buckets)
        atomicWrite(Paths.get(root, s"manifest_v$v.json.tmp"),
          manifestPath(root, v), manifestJson(m.copy(buckets = nb)).getBytes)
    }
    // old dirs now referenced by no manifest — reclaim
    remap.keys.foreach { case (g, b) =>
      rmTree(Paths.get(s"$root/$g/_bucket=$b")) }
    purged
  }

  /** Max parquet file count over the CURRENT version's bucket dirs —
    * the small-file probe (1 after [[compact]]). */
  def maxFilesPerBucket(root: String): Int =
    currentVersion(root).map { v =>
      val m = readManifest(root, v)
      if (m.buckets.isEmpty) 0
      else m.buckets.toSeq.map { case (b, g) =>
        listDir(Paths.get(s"$root/$g/_bucket=$b"))
          .count(_.getFileName.toString.endsWith(".parquet"))
      }.max
    }.getOrElse(0)

  private def rmTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(p)
    val all = try s.iterator().asScala.toSeq finally s.close()
    all.reverse.foreach(f => Files.deleteIfExists(f))
  }

  /** Read the current state of the keyed table (None if nothing has
    * been written yet). A manifest that lists zero buckets also reads
    * as None, the empty-table result: a scan of an empty path list
    * throws instead of returning no rows. [[merge]] never writes such
    * a manifest (an empty batch is a no-op), but a store written while
    * merges could still delete keys may hold one. */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    currentVersion(root).flatMap(v => readManifestVersion(spark, root, v))

  /** Time-travel read: the table AS OF `version` — the audit/rollback
    * path every versioned keyed store (Delta/Iceberg/Hudi) serves. GC
    * keeps the previous manifest and every generation either manifest
    * references, so `currentVersion - 1` is always serveable no matter
    * how large the table; older versions return None (their manifests
    * are gone — retention is a policy knob, and ours is "last two").
    * The read itself is identical to [[read]]: resolve the version's
    * bucket→generation map, scan exactly those bucket dirs. */
  def readVersion(spark: SparkSession, root: String,
      version: Long): Option[DataFrame] =
    if (!Files.exists(manifestPath(root, version))) None
    else readManifestVersion(spark, root, version)

  private def readManifestVersion(spark: SparkSession, root: String,
      v: Long): Option[DataFrame] = {
    val m = readManifest(root, v)
    if (m.buckets.isEmpty) None
    else {
      val paths = m.buckets.toSeq.sortBy(_._1)
        .map { case (b, g) => s"$root/$g/_bucket=$b" }
      // the version's RECORDED schema drives the scan (schema evolution:
      // pre-evolution generations serve NULL for later columns, and a
      // time-travel read of a pre-evolution VERSION serves that
      // version's own narrower schema); legacy manifests keep the
      // footer-resolved read
      Some(readWithSchema(spark, m, paths))
    }
  }

  /** Point/range serving read pruned to one bucket — the Cassandra
    * partition-key access path (reference S6: Grafana reads
    * `WHERE symbol = <v>` series from tables keyed
    * `(symbol, timestamp)`). Requires one value per `bucketBy` column,
    * in that order, with types matching the stored columns; the scan
    * touches only the single bucket dir the key hashes to, however
    * large the table. */
  def readKey(spark: SparkSession, root: String,
      values: Seq[Any]): Option[DataFrame] =
    currentVersion(root).map(v => readManifest(root, v))
      .filter(_.buckets.nonEmpty).map { m =>
      require(values.length == m.bucketBy.length,
        s"readKey needs one value per bucketBy column ${m.bucketBy}")
      // column types from the manifest's recorded schema; legacy
      // manifests without one fall back to the footer-resolved read
      val schema = manifestReadSchema(m).getOrElse(readWithSchema(spark, m,
        m.buckets.toSeq.map { case (b, g) => s"$root/$g/_bucket=$b" }).schema)
      // xxhash64 is type-sensitive (an Int literal for a key stored as
      // LongType hashes to a different bucket than merge computed, and
      // the lookup would silently return zero rows) — cast each literal
      // to the STORED column's type before hashing, exactly what the
      // write side hashed.
      val typed = m.bucketBy.zip(values)
        .map { case (k, value) => lit(value).cast(schema(k).dataType) }
      // same hash, same engine: the write side's expression over the
      // literals, projected from a one-row local relation — the
      // optimizer folds it to a constant, and collect reads it back
      // without launching a Spark job
      val b = spark.createDataFrame(java.util.List.of(Row.empty), StructType(Nil))
        .select(pmod(xxhash64(typed: _*), lit(m.nBuckets)).cast("int"))
        .collect().head.getInt(0)
      val pred = m.bucketBy.zip(typed)
        .map { case (k, l) => col(k) === l }
        .reduce(_ && _)
      m.buckets.get(b) match {
        case Some(g) =>
          readWithSchema(spark, m, Seq(s"$root/$g/_bucket=$b")).filter(pred)
        case None => spark.createDataFrame(java.util.List.of[Row](), schema)
      }
    }

  /** Merge `batch` into the keyed table at `root`: rows with a key
    * already present overwrite it (new batch wins); others append. A
    * batch that repeats a key keeps one row for it, whether or not the
    * key's bucket exists yet.
    * `nBuckets` and `bucketBy` apply on table creation only — later
    * merges reuse the table's recorded values, so the key→bucket
    * mapping can never drift. A merge writes one file per touched
    * bucket, so `nBuckets` sets a merge's file count: the streaming
    * DAG sizes it to the session's shuffle width.
    *
    * `bucketBy` is the Cassandra partition-key analog: bucketing on a
    * key PREFIX (e.g. just `symbol` for a `(symbol, timestamp)` key)
    * keeps each entity's rows in one bucket, so [[readKey]] serves
    * point/range lookups from a single bucket dir. Defaults to the full
    * key (uniform spread, no serving-path pruning). */
  /** @param appliedBatchId when set, recorded in the new manifest (see
    *   [[lastAppliedBatch]]) so the replay marker commits atomically
    *   with the data. Carried forward unchanged by merges that omit
    *   it. */
  def merge(batch: DataFrame, batchId: Long, root: String, keys: Seq[String],
      nBuckets: Int = defaultBuckets, bucketBy: Seq[String] = Seq.empty,
      appliedBatchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    Files.createDirectories(Paths.get(root))
    val cur = currentVersion(root)
    val manifest = cur.map(v => readManifest(root, v))
      .getOrElse(Manifest(nBuckets,
        if (bucketBy.nonEmpty) bucketBy else keys, Map.empty))
    // The merge-by-key invariant REQUIRES bucketBy ⊆ keys: bucketing on a
    // non-key column would hash two rows with the same key to different
    // buckets, the old row's bucket would never be touched, and the stale
    // row would silently survive last-writer-wins. Enforced both at table
    // creation and against an existing manifest's recorded bucketing.
    require(manifest.bucketBy.forall(keys.contains),
      s"bucketBy ${manifest.bucketBy} must be a subset of merge keys $keys")
    val next = cur.getOrElse(-1L) + 1

    val inc = batch
      .withColumn("_gen", lit(batchId + 1))
      .withColumn("_bucket",
        pmod(xxhash64(manifest.bucketBy.map(col): _*),
          lit(manifest.nBuckets)).cast("int"))
      .persist()
    // Schema EVOLUTION ledger: the physical-file schema this batch
    // implies (its columns + _gen; _bucket is a directory key), unioned
    // into the table's recorded schema — new columns append, shared
    // names must keep their type (loud), and everything is nullable
    // because older generations won't physically contain the new
    // columns.
    val incFile = StructType(inc.schema.fields
      .filterNot(_.name == "_bucket")
      .map(_.copy(nullable = true)))
    // The ledger starts at table CREATION; tables born before it (no
    // recorded schema on an existing manifest) keep the legacy
    // fixed-schema contract — their old columns can't be recovered
    // without footer sniffing, which is exactly the cost this avoids.
    val ledger: Option[StructType] =
      if (cur.isEmpty) Some(incFile)
      else manifestReadSchema(manifest).map { old =>
        incFile.fields.foreach { f =>
          old.fields.find(_.name == f.name).foreach { o =>
            require(o.dataType == f.dataType,
              s"schema evolution cannot change the type of ${f.name}: " +
                s"${o.dataType.sql} -> ${f.dataType.sql}")
          }
        }
        StructType(old.fields ++
          incFile.fields.filterNot(f => old.fieldNames.contains(f.name)))
      }
    ledger.foreach(u => require(!u.toDDL.contains('"'),
      "schema evolution: column names must not contain double quotes " +
        "(the manifest stores the schema as a JSON-embedded DDL string)"))
    val touched = inc.select("_bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    // An empty micro-batch (routine in streaming foreachBatch, and the
    // FIRST batch can be empty) must be a no-op: a partitionBy write of
    // zero rows emits no files, so flipping the pointer to a generation
    // with no buckets would leave a zero-bucket manifest v0 that read()
    // could not serve. Leave the table exactly as it was.
    if (touched.isEmpty) { inc.unpersist(); return }
    // existing rows of TOUCHED buckets only — everything else is carried
    // forward by manifest reference, never read or rewritten. ONE
    // multi-path scan, not a per-bucket union of single-path reads:
    // planner cost of an N-way union grows with the table's bucket
    // count, while a multi-path scan stays one relation. The bucket id
    // is recomputed from the bucketing columns, which the rows carry.
    val existingPaths = touched.toSeq
      .flatMap(b => manifest.buckets.get(b).map(g => s"$root/$g/_bucket=$b"))
    val candidates =
      if (existingPaths.isEmpty) inc
      else {
        // stored rows read with the UNIFIED schema when the table has a
        // recorded one: a generation written before a column existed
        // serves NULL for it, no footer merging, no history rewrite.
        // Legacy tables (no recorded schema) keep the footer-resolved
        // read unchanged.
        val existingRaw =
          if (manifest.schema.isDefined && ledger.isDefined)
            spark.read.schema(ledger.get).parquet(existingPaths: _*)
          else spark.read.parquet(existingPaths: _*)
        val existing = existingRaw
          .withColumn("_bucket",
            pmod(xxhash64(manifest.bucketBy.map(col): _*),
              lit(manifest.nBuckets)).cast("int"))
        // allowMissingColumns (ledgered tables only): the evolution
        // contract in-plan — a batch may add columns (existing rows
        // fill NULL) or omit columns the table already has (its rows
        // fill NULL; last-writer-wins replaces the WHOLE row, so an
        // omitted column reads NULL on rows the new batch won — the
        // Cassandra unset-column analog). Legacy tables keep the
        // strict union: schema drift stays a loud error there.
        existing.unionByName(inc, allowMissingColumns = ledger.isDefined)
      }
    // The merge's only exchange: hash-partition on the bucket, so each
    // task holds whole buckets and writes one file per bucket dir. The
    // last-writer-wins window is partitioned by (_bucket, keys…), which
    // that partitioning already satisfies (the bucket is a function of
    // bucketBy ⊆ keys), so it runs in the same tasks with no second
    // shuffle. It runs on every path, table creation included.
    val w = Window.partitionBy((col("_bucket") +: keys.map(col)): _*)
      .orderBy(col("_gen").desc)
    val merged = candidates
      .repartition(touched.length, col("_bucket"))
      .withColumn("_rank", row_number().over(w))
      .filter(col("_rank") === 1)
      .drop("_rank")
    merged.write.mode("overwrite").partitionBy("_bucket")
      .parquet(s"$root/gen$next")
    inc.unpersist()

    val nextManifest = Manifest(manifest.nBuckets, manifest.bucketBy,
      manifest.buckets ++ touched.map(_ -> s"gen$next"),
      appliedBatchId.orElse(manifest.appliedBatch),
      schema = ledger.map(_.toDDL))
    writeManifest(root, next, nextManifest)
    flipPointer(root, next)
    // GC: keep the generations of the new manifest and of the previous
    // one (for readers that resolved the pointer just before the flip)
    // and manifests from next-1 on. A replayed batch only ever rewrites
    // gen{next}, never a GC'd dir.
    gc(root,
      (nextManifest.buckets.toSeq ++ manifest.buckets.toSeq)
        .map { case (b, g) => (g, b) }.toSet,
      next - 1)
  }
}
