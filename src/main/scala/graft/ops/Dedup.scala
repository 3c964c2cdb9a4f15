package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline tier
  * (SURVEY.md §7.5): exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Cross-engine determinism: word hashes derive from `md5` (identical in
  * Spark and DuckDB) — first 8 hex chars as a 32-bit integer — and all
  * MinHash/SimHash parameters live here as literals so the DuckDB oracle
  * SQL is *generated from the same constants* (see the `*Sql` members).
  *
  * Scale design: signatures are computed with per-doc array expressions
  * or a single explode+partial-agg (one shuffle on doc_id); candidate
  * pairs come from LSH band buckets / same-key buckets, never a global
  * cross join — the O(n²) step is confined to within-bucket pairs.
  */
object Dedup {

  /** 16 MinHash permutations `h_j(x) = (a_j * x + b_j) mod p`.
    * a_j * x stays < 2^63 (a < 2^21, x < 2^32). */
  val minhashParams: Seq[(Long, Long)] = Seq(
    (824633L, 93911L), (532391L, 711147L), (914257L, 281903L), (149011L, 839219L),
    (643063L, 462841L), (281587L, 980801L), (770047L, 59359L), (433781L, 615301L),
    (358079L, 142607L), (982451L, 333667L), (517619L, 786433L), (274177L, 908209L),
    (672287L, 217645L), (199933L, 567899L), (864013L, 39041L), (104729L, 694847L))

  val prime: Long = 2147483647L
  val simhashBits: Int = 60

  /** 32-bit word hash from md5 — identical in both engines. */
  private[ops] val wordHash = "CAST(conv(substring(md5(word), 1, 8), 16, 10) AS BIGINT)"

  /** Exact dedup: group by content hash, keep the lowest doc_id as
    * canonical (hash-groupBy; one shuffle on the 128-bit digest). */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_doc"), count(lit(1)).as("n_docs"))

  /** Cache key: (session identity, canonicalized plan hash, extra,
    * extra2). Two distinct extra slots — NOT a folded hash — so a pair
    * of parameters (e.g. modularity's (threshold, edgeBudget)) can
    * never collide into one key (ADVICE r11). */
  private[ops] type CacheKey = (Int, Int, Long, Long)

  /** Lazily-materialized cache cell: `computeIfAbsent` only allocates
    * this holder (cheap, inside the map's bin lock); the multi-second
    * `localCheckpoint` materialization runs on first `.value` access,
    * synchronized on THIS cell — so a concurrent caller whose
    * different key hashes to the same bin never blocks behind another
    * corpus's band join (ADVICE r11). */
  private[ops] final class Memo(val session: org.apache.spark.sql.SparkSession,
      thunk: () => DataFrame) {
    lazy val value: DataFrame = thunk()
  }

  /** Generic per-(session, input-plan[, extra, extra2]) result cache —
    * the shared-stage mechanism for the signature and thresholded-edge
    * tables. The extras carry any parameters beyond the input plan that
    * change the result (e.g. a similarity threshold's bits); callers
    * with no such parameters leave them 0. Entries belonging to a
    * STOPPED session are evicted on every access: their checkpoint
    * blocks died with the context, and `identityHashCode` keys could be
    * reused by a later session — pruning here bounds every cache to
    * live sessions without a listener. A hard entry cap (64) guards the
    * pathological many-distinct-corpora session: at the cap the cache
    * clears rather than pinning unbounded checkpoint blocks (the next
    * consumer of an evicted stage simply recomputes). Results are
    * pinned with `localCheckpoint`: MEMORY_AND_DISK blocks, lineage
    * truncated. */
  private val cacheCap = 64

  private[ops] def cached(
      cache: java.util.concurrent.ConcurrentHashMap[CacheKey, Memo],
      df: DataFrame, extra: Long = 0L, extra2: Long = 0L)(
      f: DataFrame => DataFrame): DataFrame = {
    cache.entrySet().removeIf(
      e => e.getValue.session.sparkContext.isStopped)
    val key = (System.identityHashCode(df.sparkSession),
      df.queryExecution.analyzed.canonicalized.semanticHash(), extra, extra2)
    // Only clear at the cap when this lookup would MISS: clearing on a
    // hit would evict every cached stage (and its multi-second
    // localCheckpoint) on each call once the cap is reached — silent
    // recompute thrash (ADVICE r12).
    if (cache.size >= cacheCap && !cache.containsKey(key)) cache.clear()
    cache.computeIfAbsent(key,
      _ => new Memo(df.sparkSession, () => f(df).localCheckpoint())).value
  }

  private val sigCache =
    new java.util.concurrent.ConcurrentHashMap[CacheKey, Memo]()

  /** MinHash signatures: explode distinct words, hash, take 16 mins via
    * partial+final aggregation (map-side combine keeps the shuffle tiny:
    * 16 longs per doc). Cached per (session, input): the table also
    * feeds [[minhashPairs]] and [[resolveDuplicates]]. */
  def minhashSignatures(docs: DataFrame): DataFrame =
    cached(sigCache, docs)(signaturesOf)

  /** The signature computation itself, UNCACHED — the per-micro-batch
    * entry point ([[graft.streaming.StreamingJob.applyDedupBatch]]):
    * every micro-batch is a fresh plan, so routing batches through the
    * session cache would pin one checkpoint per batch for the session
    * lifetime. Batch-tier callers want [[minhashSignatures]]. */
  def signaturesOf(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("word"))
      .withColumn("x", expr(wordHash))
    val mins = minhashParams.zipWithIndex.map { case ((a, b), j) =>
      min(expr(s"(x * ${a}L + ${b}L) % ${prime}L")).as(s"m$j")
    }
    words.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** LSH candidate pairs: 4 bands × 4 rows. A pair is a candidate iff
    * at least one band's 4 signature slots all match; the estimated
    * Jaccard is the fraction of matching slots. The join key is the
    * band hash — within-bucket pairs only, never a cross join.
    *
    * Dedup without a pair-level shuffle: a pair matching in several
    * bands is emitted only from its FIRST matching band (`band ==
    * first_match`), so the join output needs no `groupBy(doc_a, doc_b)`
    * — at sf0.1 that aggregation was shuffling millions of rows each
    * carrying two 16-long signature arrays. The band-bucket join itself
    * keys on a 64-bit xxhash; hash collisions cannot create false
    * pairs because `first_match` re-checks real slot equality. */
  /** Candidate pairs, session-cached per corpus (VERDICT r10 #3): the
    * banded join is the shared stage of `d_minhash_pairs`,
    * `d_threshold_curve`, and every [[dupEdges]]/[[weightedDupEdges]]
    * threshold tier, so it now runs ONCE per (session, corpus) and all
    * consumers scan the pinned result. What gets pinned is the
    * PROJECTED (doc_a, doc_b, est_jaccard) table — 24 bytes/pair;
    * the round-8 measurement that argued against caching (6× the band
    * join itself) materialized the pre-projection rows carrying two
    * 16-long signatures (~280 B/pair), which is gone here. The pin is
    * MEMORY_AND_DISK via localCheckpoint, so a pathological pair
    * explosion spills instead of OOMing; at 100 TB this table is what
    * you'd write out as the pipeline's candidate-pair dataset. */
  def minhashPairs(docs: DataFrame): DataFrame =
    cached(candPairCache, docs)(d =>
      // r18 (guide §2.5 input skew): the band join's output partitioning
      // is hash(band, key) — pair-heavy bands cluster, and the pinned
      // table came out with 44% of all pairs in ONE partition (measured
      // at sf0.1: 2.67 M of 6.04 M rows in pid 10, top-4 partitions =
      // 93%), capping every downstream consumer's scan at ~4-way
      // parallelism (d_edit_distance's levenshtein stage: maxTask 3.7 s
      // of an 8.8 s task-sum on 32 cores). One explicit rebalance by the
      // (near-unique) pair key before the pin spreads the table
      // uniformly; build cost is one extra 24 B/pair shuffle ONCE per
      // (session, corpus), repaid by every consumer. Explicit partition
      // count: AQE would coalesce the small-bytes exchange right back
      // into few partitions.
      pairsFromSignatures(minhashSignatures(d))
        .repartition(d.sparkSession.sessionState.conf.numShufflePartitions,
          col("doc_a"), col("doc_b")))

  private val candPairCache =
    new java.util.concurrent.ConcurrentHashMap[CacheKey, Memo]()

  private val edgeCache =
    new java.util.concurrent.ConcurrentHashMap[CacheKey, Memo]()

  /** Thresholded duplicate-graph edge list (doc_a < doc_b, no
    * self-loops, one row per pair) — the shared input of the
    * [[modularity]] measurement and its edge-count sample modulus.
    * Cached per (session, corpus, threshold) like the signature table:
    * unlike the raw candidate-pair table (whose non-caching rationale is
    * documented on [[minhashPairs]] — quadratic AND signature-laden
    * before the threshold) the surviving edge set is two longs per
    * edge, so pinning it is cheap and every consumer stops re-running
    * the band join. The weight column is dropped on purpose; consumers
    * that need the similarity use [[weightedDupEdges]]. */
  def dupEdges(docs: DataFrame,
      threshold: Double = resolveThreshold): DataFrame =
    cached(edgeCache, docs,
        java.lang.Double.doubleToLongBits(threshold)) { d =>
      minhashPairs(d).filter(col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b").distinct()
    }

  private val wEdgeCache =
    new java.util.concurrent.ConcurrentHashMap[CacheKey, Memo]()

  private val edgeCountCache =
    new java.util.concurrent.ConcurrentHashMap[
      (Int, Int, Long), (org.apache.spark.sql.SparkSession, Long)]()

  /** Count of the [[resolveThreshold]] loose edge list, cached per
    * (session, corpus): the [[modularity]] sample-modulus derivation
    * needs m₀ on every call, and re-scanning the (already cached)
    * 60 M-row edge table per bench rep is a measurable fixed cost.
    * Values carry their session so stopped-session entries are evicted
    * (an `identityHashCode` key can be reused by a later session). */
  private def looseEdgeCount(docs: DataFrame): Long = {
    edgeCountCache.entrySet().removeIf(
      e => e.getValue._1.sparkContext.isStopped)
    val key = (System.identityHashCode(docs.sparkSession),
      docs.queryExecution.analyzed.canonicalized.semanticHash(), 0L)
    edgeCountCache.computeIfAbsent(key,
      _ => (docs.sparkSession, dupEdges(docs).count()))._2
  }

  private val ccLabelCache =
    new java.util.concurrent.ConcurrentHashMap[CacheKey, Memo]()

  /** Connected-component labels of the strict-threshold dup graph,
    * cached per (session, corpus, threshold): the iterative CC build
    * (driver-round pointer jumping) is a fixed multi-second cost per
    * call, while the label table is two longs per doc — the same
    * pin-the-small-thing trade as [[dupEdges]]. */
  private def strictComponentLabels(docs: DataFrame,
      threshold: Double): DataFrame =
    cached(ccLabelCache, docs,
        java.lang.Double.doubleToLongBits(threshold)) { d =>
      Graph.connectedComponents(d.select(col("doc_id")),
          weightedDupEdges(d, threshold).select("doc_a", "doc_b"))
        .select(col("id").as("doc_id"), col("lbl").as("c"))
    }

  private val labeledEdgeCache =
    new java.util.concurrent.ConcurrentHashMap[CacheKey, Memo]()

  /** [[dupEdges]] with the similarity weight kept — for consumers that
    * need the similarity or a stricter threshold (the strict-threshold
    * components of [[modularity]]). Cached separately
    * per (session, corpus, threshold): at the high thresholds these
    * consumers use ([[triangleThreshold]] 0.9) the surviving pair set is
    * bounded by near-identical-clique size, so pinning three columns per
    * edge is as cheap as the unweighted table, and repeat consumers skip
    * the band join entirely. */
  def weightedDupEdges(docs: DataFrame,
      threshold: Double): DataFrame =
    cached(wEdgeCache, docs,
        java.lang.Double.doubleToLongBits(threshold)) { d =>
      // r18: filter+project INHERITS the pair table's partitioning —
      // rebalance like [[minhashPairs]] so the pinned edge list doesn't
      // carry its residual skew into the graph consumers. ([[dupEdges]]
      // needs no rebalance: its `.distinct()` already re-hashes by the
      // full pair key.)
      minhashPairs(d).filter(col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
        .repartition(d.sparkSession.sessionState.conf.numShufflePartitions,
          col("doc_a"), col("doc_b"))
    }

  /** Banded-LSH candidate pairs from an already-computed signature table
    * (doc_id, m0..m15) — the seam [[resolveDuplicates]] uses to band-join
    * signature-group REPRESENTATIVES instead of all docs. */
  private[ops] def pairsFromSignatures(sig: DataFrame): DataFrame = {
    val b = bandsOf(sig)
    bandJoin(b, b, col("doc_a") < col("doc_b"))
  }

  /** Exploded (doc_id, band, key, m0..m15) band table of a signature
    * table — flat m0..m15 columns on both join sides (no array
    * wrapping): every per-pair expression in [[bandJoin]] stays inside
    * whole-stage codegen — zip_with/filter lambdas are interpreted and
    * cost ~like a UDF on millions of candidate pairs. */
  private[ops] def bandsOf(sig: DataFrame): DataFrame =
    sig.select(
      (col("doc_id") +: (0 until 16).map(j => col(s"m$j"))) :+
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            xxhash64((0 until 4).map(j => col(s"m${b * 4 + j}")): _*).as("key"))
        }: _*)).as("bk"): _*)
      .select(Seq(col("doc_id"), col("bk.band").as("band"),
        col("bk.key").as("key")) ++ (0 until 16).map(j => col(s"m$j")): _*)

  /** Band-bucket join of two band tables ([[bandsOf]]): emits each
    * (doc_a ← left, doc_b ← right) pair passing `cond` exactly once
    * (from its FIRST truly-matching band — collision-proof and
    * shuffle-free dedup) with the slot-match Jaccard estimate. */
  private[ops] def bandJoin(lb: DataFrame, rb: DataFrame,
      cond: org.apache.spark.sql.Column): DataFrame = {
    val l = lb.select(Seq(col("band"), col("key"),
      col("doc_id").as("doc_a")) ++
      (0 until 16).map(j => col(s"m$j").as(s"a$j")): _*)
    val r = rb.select(Seq(col("band"), col("key"),
      col("doc_id").as("doc_b")) ++
      (0 until 16).map(j => col(s"m$j").as(s"b$j")): _*)
    // index of the first band whose 4 slots all truly match (0-based),
    // computed from the signatures themselves (collision-proof).
    val firstMatch = (0 until 4).map { b =>
      val eq = (0 until 4).map(j => s"a${b * 4 + j} = b${b * 4 + j}")
        .mkString(" AND ")
      s"WHEN $eq THEN $b"
    }.mkString("CASE ", " ", " ELSE -1 END")
    val nMatch = (0 until 16).map(j => s"(CASE WHEN a$j = b$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    // Explosive join: output pairs outnumber probe rows ~300×, so size
    // the probe side's parallelism by the OUTPUT, not the input — an
    // explicit numbered repartition, which AQE will not coalesce away
    // (coalescing by input bytes serialized the whole pair production
    // into one task: 3× slower at sf0.1).
    val n = lb.sparkSession.sessionState.conf.numShufflePartitions
    l.repartition(n, col("band"), col("key"))
      .join(r, Seq("band", "key"))
      .filter(cond)
      .filter(col("band") === expr(firstMatch))
      .select(col("doc_a"), col("doc_b"),
        (expr(nMatch).cast("double") / lit(16).cast("double")).as("est_jaccard"))
  }

  /** Incremental (cross-corpus) dedup — the daily-crawl production
    * pattern: screen a NEW batch of documents (here the deterministic
    * `doc_id % 10 = 0` slice) against the already-ingested corpus plus
    * the batch's own earlier arrivals, and never corpus-vs-corpus. The
    * band join is RESTRICTED on the probe side (only new docs explode
    * into probes; the corpus side is the stored band table a real
    * pipeline keeps materialized), so the per-batch cost scales with
    * the batch, not the corpus — the whole point of incremental dedup.
    * Output: one row per new doc with its match count and dup flag. */
  def crossDedup(docs: DataFrame,
      threshold: Double = resolveThreshold): DataFrame = {
    val sig = minhashSignatures(docs)
    val bands = bandsOf(sig)
    val newBands = bands.filter(col("doc_id") % 10 === 0)
    // a new doc is a dup against the corpus (any id) or an EARLIER new
    // doc — each candidate (new, other) pair emitted exactly once
    val matches = bandJoin(newBands, bands,
        col("doc_b") % 10 =!= 0 || col("doc_b") < col("doc_a"))
      .filter(col("est_jaccard") >= threshold)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
    sig.filter(col("doc_id") % 10 === 0).select("doc_id")
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        when(coalesce(col("n_matches"), lit(0L)) > 0L, 1L).otherwise(0L)
          .as("is_dup"))
  }

  /** Screen one batch of NEW documents against the stored corpus — the
    * per-micro-batch core of the STREAMING cross-corpus dedup twin
    * ([[graft.streaming.StreamingJob.applyDedupBatch]]): for every doc
    * in `batchSig`, count near-dup matches among (a) the stored corpus
    * signatures and (b) the batch's own earlier arrivals (`doc_b <
    * doc_a` — the same within-batch order [[crossDedup]] uses).
    *
    * Corpus candidates whose `doc_id` is IN the batch are excluded by
    * anti-join before banding: after a crash between the flag merge and
    * the signature merge, a replayed batch would otherwise find ITSELF
    * in the store and double-count (self-match + within-batch dupes) —
    * the anti-join makes the whole micro-batch replay-idempotent with
    * no marker. Cost: the probe side is batch-sized; the corpus side is
    * the stored band table — per-batch work scales with the batch plus
    * its bucket collisions, never corpus², exactly the [[crossDedup]]
    * restriction maintained incrementally.
    *
    * @return (doc_id, n_matches, is_dup) — one row per batch doc */
  def screenBatch(batchSig: DataFrame, corpusSig: Option[DataFrame],
      threshold: Double = resolveThreshold): DataFrame = {
    val bb = bandsOf(batchSig)
    val within = bandJoin(bb, bb, col("doc_b") < col("doc_a"))
    val all = corpusSig match {
      case None => within
      case Some(cs) =>
        val candidates = cs.join(batchSig.select("doc_id"),
          Seq("doc_id"), "left_anti")
        // disjoint candidate sets (corpus excludes batch ids), so the
        // union introduces no duplicate pairs
        within.unionByName(
          bandJoin(bb, bandsOf(candidates), lit(true)))
    }
    val matches = all.filter(col("est_jaccard") >= threshold)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
    batchSig.select("doc_id")
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        when(coalesce(col("n_matches"), lit(0L)) > 0L, 1L).otherwise(0L)
          .as("is_dup"))
  }

  /** Oracle for [[crossDedup]]. */
  def crossDedupSql(threshold: Double = resolveThreshold): String =
    s"""${sigCteFrom("documents")},
       |m AS (
       |  SELECT s1.doc_id AS new_id, count(*) AS n_matches
       |  FROM sig s1 JOIN sig s2
       |    ON s1.doc_id % 10 = 0
       |   AND (s2.doc_id % 10 != 0 OR s2.doc_id < s1.doc_id)
       |   AND s1.doc_id != s2.doc_id
       |  WHERE ($bandEqSql)
       |    AND CAST($matchesSql AS DOUBLE) / CAST(16 AS DOUBLE)
       |          >= $threshold
       |  GROUP BY 1
       |)
       |SELECT s.doc_id,
       |       CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
       |       CAST(CASE WHEN coalesce(m.n_matches, 0) > 0
       |            THEN 1 ELSE 0 END AS BIGINT) AS is_dup
       |FROM sig s LEFT JOIN m ON m.new_id = s.doc_id
       |WHERE s.doc_id % 10 = 0""".stripMargin

  /** SimHash signature: 60 bit-planes, each the sign of a +1/-1 vote sum
    * over distinct word hashes. Computed as 60 aggregate columns — no
    * bit-level row explosion. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(split(col("text"), " "))).as("word"))
      .withColumn("x",
        expr("CAST(conv(substring(md5(word), 1, 15), 16, 10) AS BIGINT)"))
    val votes = (0 until simhashBits).map { b =>
      sum(expr(s"CASE WHEN (x >> $b) & 1 = 1 THEN 1 ELSE -1 END")).as(s"s$b")
    }
    val agg = words.groupBy("doc_id", "lang").agg(votes.head, votes.tail: _*)
    val assemble = (0 until simhashBits)
      .map(b => s"CASE WHEN s$b > 0 THEN CAST(shiftleft(CAST(1 AS BIGINT), $b) AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    agg.select(col("doc_id"), col("lang"), expr(assemble).as("simhash"))
  }

  /** Max Hamming distance for a SimHash near-dup pair, and the band
    * split that makes finding them scale: `maxHamming + 1` bands of
    * `simhashBits / (maxHamming + 1)` bits — by pigeonhole, ≤ maxHamming
    * differing bits leave at least one band exactly equal (Manku et al.,
    * WWW'07 layout). 3 → 4 bands × 15 bits. */
  val simhashMaxHamming: Int = 3
  private val simhashBands: Int = simhashMaxHamming + 1
  private val simhashBandBits: Int = simhashBits / simhashBands
  private val simhashBandMask: Long = (1L << simhashBandBits) - 1

  /** SimHash near-dup pairs at corpus scale: band the 60-bit signature
    * into 4 × 15-bit prefix tables, bucket-join on (band, band bits),
    * and keep pairs with true Hamming ≤ [[simhashMaxHamming]] — the
    * exact-filter step makes the banding a pure candidate generator, so
    * the result is identical to an all-pairs scan while the join only
    * ever touches same-band-value buckets (no O(corpus) broadcast, no
    * blocking-key ceiling — the sharpening of the earlier within-`lang`
    * demo blocking). A pair matching in several bands is emitted from
    * its FIRST matching band only ([[minhashPairs]]'s dedup trick —
    * no pair-level distinct shuffle). */
  def simhashPairs(docs: DataFrame): DataFrame = {
    val sig = simhashSignatures(docs)
    val bands = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until simhashBands).map { b =>
        struct(lit(b).as("band"),
          expr(s"(simhash >> ${b * simhashBandBits}) & ${simhashBandMask}L")
            .as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"),
        col("simhash"))
    val l = bands.select(col("band"), col("key"),
      col("doc_id").as("doc_a"), col("simhash").as("h_a"))
    val r = bands.select(col("band"), col("key"),
      col("doc_id").as("doc_b"), col("simhash").as("h_b"))
    val firstMatch = (0 until simhashBands).map { b =>
      val sh = b * simhashBandBits
      s"WHEN (h_a >> $sh) & ${simhashBandMask}L = " +
        s"(h_b >> $sh) & ${simhashBandMask}L THEN $b"
    }.mkString("CASE ", " ", " ELSE -1 END")
    // explosive-join sizing as in minhashPairs: numbered repartition on
    // the bucket key so AQE can't serialize pair production
    val n = docs.sparkSession.sessionState.conf.numShufflePartitions
    l.repartition(n, col("band"), col("key"))
      .join(r, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(col("band") === expr(firstMatch))
      .withColumn("hamming", expr("bit_count(h_a ^ h_b)"))
      .filter(col("hamming") <= simhashMaxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Word-3-gram Jaccard similarity over pairs bucketed by
    * (lang, source), via an inverted index: explode distinct shingles
    * into postings, self-join postings on (lang, source, shingle) so
    * `count(*)` per (doc_a, doc_b) IS the intersection size, then one
    * Jaccard filter. Pairs sharing zero shingles never materialize —
    * unlike a quadratic within-bucket array_intersect, cost scales with
    * actual shingle overlap, which is what survives a 100 TB corpus.
    * Requires threshold > 0 (zero-overlap pairs are absent by
    * construction). Set sizes ride along in the posting rows, so no
    * join-back is needed. */
  /** Shared word-3-gram shingle SQL over a pre-split `ws` column,
    * guarded for documents under 3 words: `sequence(0, size(ws)-3)`
    * with a negative stop produces a DESCENDING range in Spark
    * (e.g. [0,-1]), `ws[-1]` is null, and concat_ws SKIPS nulls — so
    * a 1–2 word doc would emit a bogus short shingle where the DuckDB
    * oracles' `generate_series(1, len-2)` is empty. Same guard shape
    * as TextOps.repetitionStats. */
  private val shingleExpr: String =
    "CASE WHEN size(ws) < 3 THEN CAST(array() AS array<string>) ELSE " +
      "array_distinct(transform(sequence(0, size(ws) - 3), " +
      "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) END"

  def ngramJaccard(docs: DataFrame, threshold: Double = 0.1): DataFrame = {
    require(threshold > 0, "inverted-index Jaccard needs threshold > 0")
    // Split once per doc; the lambda body only indexes into the array.
    // (Putting `split` inside the lambda re-tokenizes the text per
    // shingle position — O(words²) per document.)
    val sh = docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), col("lang"), col("source"),
        expr(shingleExpr).as("shingles"))
    // explode_outer, not explode: InferFiltersFromGenerate otherwise
    // plants a `size(shingles) > 0` filter below the Generate whose
    // pushed-down form re-inlines the whole shingle transform (split
    // per element) into an interpreted per-row Filter — measured 10×
    // the cost of the shingle generation itself. Null/empty rows it
    // would keep are dropped by the join key anyway.
    val posts = sh.select(col("lang"), col("source"), col("doc_id"),
      size(col("shingles")).as("sz"), explode_outer(col("shingles")).as("shingle"))
    val l = posts.select(col("lang"), col("source"), col("shingle"),
      col("doc_id").as("doc_a"), col("sz").as("sz_a"))
    val r = posts.select(col("lang"), col("source"), col("shingle"),
      col("doc_id").as("doc_b"), col("sz").as("sz_b"))
    // sz_a/sz_b as first()-aggregates, NOT grouping keys: the final
    // jaccard filter infers isnotnull(sz); as a grouping column that
    // constraint would push through the aggregate and Generate and
    // re-inline the full shingle transform into a per-row scan Filter
    // (the same trap as above). An aggregate result stops constraint
    // propagation cold.
    l.join(r, Seq("lang", "source", "shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"),
        count(lit(1)).as("n_inter"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), (col("jaccard")).as("jaccard"))
  }

  /** D (extension, r16) — corpus-level SOURCE similarity matrix (a new
    * granularity next to the doc-pair tiers): exact Jaccard between
    * every overlapping pair of SOURCES over their distinct word-3-gram
    * shingle sets — the corpus-QC question ("which feeds are mirrors
    * of each other?") that doc-level dedup answers only implicitly and
    * expensively. Shingle definition is [[ngramJaccard]]'s verbatim
    * (one shared tokenization for the whole dedup tier). Structure is
    * the inverted index again, but keyed at source grain: distinct
    * (source, shingle) postings, self-join on shingle so `count(*)`
    * per source pair IS the intersection, sizes broadcast back
    * (|sources| rows). Zero-overlap pairs never materialize — the
    * [[ngramJaccard]] contract. Cost: postings join fan-out is
    * Σ_shingle k², k = sources sharing the shingle — bounded by
    * |sources|² per shingle, and |sources| is tens-to-hundreds at any
    * corpus scale, so this stays linear in distinct shingles where the
    * doc-level join would be quadratic in docs. Jaccard is ONE
    * correctly-rounded IEEE division of exact int64 counts —
    * engine-identical unrounded. */
  def sourceSimilarity(docs: DataFrame): DataFrame = {
    val sh = docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("source"),
        explode_outer(expr(shingleExpr)).as("shingle"))
      .filter(col("shingle").isNotNull)
      .distinct()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("sz"))
    val l = sh.select(col("shingle"), col("source").as("src_a"))
    val r = sh.select(col("shingle"), col("source").as("src_b"))
    l.join(r, Seq("shingle"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_inter"))
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("sz").as("sz_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("sz").as("sz_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("sz_a"), col("sz_b"),
        col("n_inter"),
        (col("n_inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_inter")).cast("double"))
          .as("jaccard"))
  }

  /** Oracle for [[sourceSimilarity]] (documents table; shingle SQL is
    * the d_ngram_jaccard oracle's verbatim). */
  val sourceSimilaritySql: String =
    """WITH sh AS (
      |  SELECT DISTINCT * FROM (
      |    SELECT source,
      |           unnest(list_distinct(list_transform(
      |             generate_series(1, len(string_split(text, ' ')) - 2),
      |             i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))))
      |             AS shingle
      |    FROM documents)
      |), sz AS (
      |  SELECT source, count(*) AS sz FROM sh GROUP BY 1
      |), p AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT p.src_a, p.src_b, CAST(za.sz AS BIGINT) AS sz_a,
      |       CAST(zb.sz AS BIGINT) AS sz_b,
      |       CAST(p.n_inter AS BIGINT) AS n_inter,
      |       CAST(p.n_inter AS DOUBLE)
      |         / CAST(za.sz + zb.sz - p.n_inter AS DOUBLE) AS jaccard
      |FROM p
      |JOIN sz za ON za.source = p.src_a
      |JOIN sz zb ON zb.source = p.src_b""".stripMargin

  /** Bands × bits-per-band layout of the embedding near-dup blocking:
    * one [[graft.functions.HyperplaneLshBits]] pass yields
    * `embDupBands·embDupBandBits` sign bits; band b's key is its
    * `embDupBandBits`-bit slice. */
  val embDupBands: Int = 2
  val embDupBandBits: Int = 8

  /** Embedding-cosine near-duplicate pairs (SURVEY.md §7.5), blocked on
    * banded hyperplane-LSH buckets — the same candidate-generation
    * structure as [[minhashPairs]] (a pair is a candidate iff SOME band's
    * bit-slice matches; emitted only from its FIRST matching band, so no
    * pair-level dedup shuffle), with the exact double-precision cosine
    * as the final filter. Both sides shuffle on the (band, key) bucket —
    * there is NO O(corpus) broadcast side (the former `label` blocking
    * broadcast the whole corpus), and bucket count scales as
    * bands · 2^bits, so parallelism is key-driven at any corpus size;
    * AQE splits skewed buckets. The dot product is the codegen'd
    * [[graft.functions.DotProduct]] expression; floats are upcast to
    * double before any arithmetic so the oracle reproduces results
    * exactly. LSH recall is band-probabilistic by design (near-identical
    * vectors collide with high probability; the oracle mirrors the same
    * buckets, so the comparison is exact regardless). */
  def embeddingDup(spark: org.apache.spark.sql.SparkSession, dir: String,
      threshold: Double = 0.4): DataFrame =
    embeddingPairs(spark, dir).filter(col("cos_sim") >= threshold)

  private val embPairCache =
    new java.util.concurrent.ConcurrentHashMap[CacheKey, Memo]()

  /** The hyperplane-LSH bucketed candidate pair table (vec_a, vec_b,
    * cos_sim — rounded display cosine) shared by [[embeddingDup]] and
    * [[cosThresholdCurve]], session-cached per (session, corpus) the
    * way [[minhashPairs]] is: the bucket join is the shared stage; the
    * surviving projection is three values per pair. */
  private def embeddingPairs(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    graft.functions.VectorOps.register(spark)
    val totalBits = embDupBands * embDupBandBits
    val mask = (1 << embDupBandBits) - 1
    val embIn = graft.Tables.load(spark, dir, "embeddings")
    cached(embPairCache, embIn) { emb0 =>
      val emb = emb0
        .withColumn("v", col("embedding").cast("array<double>"))
        .withColumn("norm", sqrt(expr("dot_product(v, v)")))
        .withColumn("bkt", expr(s"lsh_bits(v, $totalBits)"))
      def banded(df: DataFrame) = df.withColumn("bk",
        explode(array((0 until embDupBands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("bkt"), b * embDupBandBits)
              .bitwiseAND(lit(mask)).as("key"))
        }: _*)))
        .select(col("vec_id"), col("v"), col("norm"), col("bkt"),
          col("bk.band").as("band"), col("bk.key").as("key"))
      val l = banded(emb).select(col("band"), col("key"),
        col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na"),
        col("bkt").as("ba"))
      val r = banded(emb).select(col("band"), col("key"),
        col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb"),
        col("bkt").as("bb"))
      // first matching band of the pair — joined rows satisfy band's slice
      // equality already, so firstMatch ≤ band and the == test emits each
      // pair exactly once
      val firstMatch = (0 until embDupBands).foldRight(lit(-1): Column) {
        case (b, els) =>
          when(shiftright(col("ba"), b * embDupBandBits).bitwiseAND(lit(mask)) ===
            shiftright(col("bb"), b * embDupBandBits).bitwiseAND(lit(mask)),
            lit(b)).otherwise(els)
      }
      l.join(r, Seq("band", "key"))
        .filter(col("vec_a") < col("vec_b"))
        .filter(col("band") === firstMatch)
        .withColumn("cos", expr("dot_product(va, vb)") / (col("na") * col("nb")))
        .select(col("vec_a"), col("vec_b"), (col("cos")).as("cos_sim"))
    }
  }

  /** Embedding-dup threshold-sweep curve — [[thresholdCurve]] for the
    * SEMANTIC tier: for each candidate cosine cutoff, how many
    * LSH-bucket candidate pairs fire and how many vectors they touch —
    * the tuning table a curation run reads before committing to an
    * embedding-dup threshold (too low merges topical neighbors into
    * "duplicates"; too high misses paraphrases). One bucketed pair
    * scan (the cached [[embeddingPairs]] table) feeds every cutoff via
    * a ≤|thresholds|-row broadcast join; comparisons run on the
    * 6-rounded display cosine, which both engines compute identically
    * (the [[embeddingDup]] boundary discipline). */
  def cosThresholdCurve(spark: org.apache.spark.sql.SparkSession,
      dir: String,
      thresholds: Seq[Double] = Seq(0.2, 0.3, 0.4, 0.5, 0.6)): DataFrame = {
    import spark.implicits._
    val tDf = thresholds.toDF("threshold")
    val j = embeddingPairs(spark, dir)
      .join(broadcast(tDf), col("cos_sim") >= col("threshold"))
    val np = j.groupBy("threshold").agg(count(lit(1)).as("p"))
    val nv = j.select(col("threshold"),
        explode(array(col("vec_a"), col("vec_b"))).as("d"))
      .groupBy("threshold").agg(countDistinct(col("d")).as("nv"))
    tDf.join(np, Seq("threshold"), "left").join(nv, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("p"), lit(0L)).as("n_pairs"),
        coalesce(col("nv"), lit(0L)).as("n_vecs"))
  }

  /** Jaccard-estimate cutoff above which a MinHash candidate pair is an
    * edge of the duplicate graph (8 of 16 slots — exactly representable,
    * so the Spark/DuckDB comparison is drift-free). */
  val resolveThreshold: Double = 0.5

  /** Dedup *resolution*: turn near-dup pairs into keep/drop decisions.
    * Connected components over the MinHash candidate-pair graph
    * (est_jaccard ≥ [[resolveThreshold]]); every doc maps to the lowest
    * doc_id in its component (the canonical copy to keep). The CC core
    * is [[Graph.connectedComponents]] (graph contraction + pointer
    * jumping — see its scaladoc for the algorithm and scale posture);
    * this wrapper supplies the pair graph and attaches cluster sizes. */
  def resolveDuplicates(docs: DataFrame, maxIter: Int = 20): DataFrame =
    resolveBySignature(minhashSignatures(docs), maxIter)

  /** Dedup resolution with SIGNATURE-LEVEL contraction: docs sharing the
    * full 16-slot signature are provably one component (their est_jaccard
    * is 1.0 ≥ threshold), and a cross-group pair's band match and
    * estimate depend ONLY on the two signatures — so the component
    * structure is fully determined at the signature-group level. Group
    * by the signature tuple (no hash key: a 64-bit collision would merge
    * unrelated groups), elect min-doc_id representatives, band-join just
    * the representatives, run CC on the rep graph, and expand through
    * the membership map. On near-dup-heavy corpora this is the dominant
    * cost saver: at sf0.1 the doc-level ≥0.5 pair graph has ~6.0M edges
    * over 5k docs, the rep graph ~1/6 of that over 2k reps — and at
    * 100 TB, where dup clusters are the point of the exercise, the
    * contraction is what keeps the CC input sublinear in corpus size.
    * Results are identical to doc-level CC (components expand exactly;
    * min rep id of a component == min doc id, since each rep is its
    * group's min). */
  /** Rep-level candidate edges come from a band join over just the
    * representatives ([[pairsFromSignatures]] on the contracted
    * signature table) — quadratically cheaper than the doc-level pair
    * production whenever signature groups are non-trivial. */
  private[ops] def resolveBySignature(sig: DataFrame,
      maxIter: Int = 20): DataFrame =
    // r17: session-cached keyed on the SIGNATURE table's plan — several
    // registry queries resolve the same corpus (d_dedup_resolve,
    // cluster-best, …); each previously re-ran the rep-contraction
    // + CC loop (~4.5 s executor time + ~5 action barriers per query at
    // sf0.1). The pinned table is (doc_id, canonical, cluster_size) —
    // doc-count-sized, 24 bytes/row. No streaming caller routes here
    // (the per-micro-batch path uses [[signaturesOf]] shapes), so no
    // per-batch pinning risk.
    cached(resolveCache, sig, maxIter.toLong)(s =>
      resolveBySignatureOf(s, maxIter))

  private val resolveCache =
    new java.util.concurrent.ConcurrentHashMap[CacheKey, Memo]()

  private def resolveBySignatureOf(sig: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val slots = (0 until minhashParams.length).map(j => col(s"m$j"))
    val byGroup = org.apache.spark.sql.expressions.Window.partitionBy(slots: _*)
    val withRep = sig.withColumn("rep", min(col("doc_id")).over(byGroup))
    val memb = withRep.select(col("doc_id"), col("rep"))
    val repSig = withRep.filter(col("doc_id") === col("rep")).drop("rep")
    val edges = pairsFromSignatures(repSig)
      .filter(col("est_jaccard") >= resolveThreshold)
      .select(col("doc_a"), col("doc_b"))
    val lbl = Graph.connectedComponents(repSig.select("doc_id"), edges, maxIter)
    val docLbl = memb.join(lbl, memb("rep") === lbl("id"))
      .select(col("doc_id"), col("lbl"))
    val sizes = docLbl.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    docLbl.join(sizes, "lbl")
      .select(col("doc_id"), col("lbl").as("canonical_doc"), col("cluster_size"))
  }

  /** Generic dedup resolution over a caller-supplied pair graph — the
    * seam for driving connected-components resolution from any
    * similarity signal (an [[ngramJaccard]] or [[simhashPairs]] output
    * re-labeled to (doc_a, doc_b, est_jaccard), or externally computed
    * pairs), where [[resolveDuplicates]] is MinHash-specific and
    * contraction-optimized. `vertices` is the one-column doc-id universe
    * to label; `pairs` must carry (doc_a, doc_b, est_jaccard) with both
    * endpoints in that universe. */
  def resolveFromPairs(vertices: DataFrame, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val edges = pairs
      .filter(col("est_jaccard") >= resolveThreshold)
      .select(col("doc_a"), col("doc_b"))
    val lbl = Graph.connectedComponents(vertices, edges, maxIter)
    val sizes = lbl.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    lbl.join(sizes, "lbl")
      .select(col("id").as("doc_id"), col("lbl").as("canonical_doc"),
        col("cluster_size"))
  }

  /** Oracle for [[embeddingDup]]: the identical 16 hyperplane sign bits
    * (the [[graft.functions.HyperplaneLshBits]] formula, spliced in
    * through [[graft.functions.VectorOps.hyperplaneSignSql]] —
    * bit-compatible by construction), the same banded
    * keys, the same first-matching-band emission, the same exact-double
    * cosine. */
  /** The [[embeddingPairs]] chain in SQL, ending in
    * `epairs(vec_a, vec_b, cos_sim)` — shared by [[embeddingDupSql]]
    * and [[cosThresholdCurveSql]]. */
  private val embeddingPairCtes: String = {
    val totalBits = embDupBands * embDupBandBits
    val mask = (1 << embDupBandBits) - 1
    val dim = 64
    val bits = (0 until totalBits).map { j =>
      val sign = graft.functions.VectorOps.hyperplaneSignSql("(i - 1)", j)
      s"""CASE WHEN list_sum(list_transform(generate_series(1, $dim),
         |  i -> v[i] * $sign)) > 0.0::DOUBLE
         |  THEN ${1 << j} ELSE 0 END""".stripMargin
    }.mkString(" +\n      ")
    val firstMatch = (0 until embDupBands).reverse
      .foldLeft("-1") { (els, b) =>
        s"CASE WHEN ((ba >> ${b * embDupBandBits}) & $mask) = " +
          s"((bb >> ${b * embDupBandBits}) & $mask) THEN $b ELSE $els END"
      }
    s"""n AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings
       |), h AS (
       |  SELECT vec_id, v, nrm,
       |      $bits AS bkt
       |  FROM n
       |), b AS (
       |  SELECT vec_id, v, nrm, bkt, bands.band,
       |         (bkt >> (bands.band * $embDupBandBits)) & $mask AS key
       |  FROM h, (SELECT unnest(generate_series(0, ${embDupBands - 1})) AS band) bands
       |), p AS (
       |  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b, a.band,
       |         a.bkt AS ba, b2.bkt AS bb,
       |         list_dot_product(a.v, b2.v) / (a.nrm * b2.nrm) AS cos
       |  FROM b a JOIN b b2
       |    ON a.band = b2.band AND a.key = b2.key AND a.vec_id < b2.vec_id
       |), epairs AS MATERIALIZED (
       |  SELECT vec_a, vec_b, (cos) AS cos_sim
       |  FROM p
       |  WHERE band = ($firstMatch)
       |)""".stripMargin
  }

  val embeddingDupSql: String =
    s"""WITH $embeddingPairCtes
       |SELECT vec_a, vec_b, cos_sim FROM epairs
       |WHERE cos_sim >= 0.4""".stripMargin

  /** Oracle for [[cosThresholdCurve]]. */
  def cosThresholdCurveSql(
      thresholds: Seq[Double] = Seq(0.2, 0.3, 0.4, 0.5, 0.6)): String = {
    val values = thresholds.map(t => s"(${t}::DOUBLE)").mkString(", ")
    s"""WITH $embeddingPairCtes,
       |t AS (
       |  SELECT * FROM (VALUES $values) v(threshold)
       |), j AS (
       |  SELECT t.threshold, e.vec_a, e.vec_b
       |  FROM epairs e, t WHERE e.cos_sim >= t.threshold
       |), np AS (
       |  SELECT threshold, count(*) AS p FROM j GROUP BY 1
       |), nv AS (
       |  SELECT threshold, count(DISTINCT d) AS nv FROM (
       |    SELECT threshold, vec_a AS d FROM j
       |    UNION ALL SELECT threshold, vec_b FROM j
       |  ) GROUP BY 1
       |)
       |SELECT t.threshold,
       |       CAST(coalesce(np.p, 0) AS BIGINT) AS n_pairs,
       |       CAST(coalesce(nv.nv, 0) AS BIGINT) AS n_vecs
       |FROM t LEFT JOIN np USING (threshold)
       |       LEFT JOIN nv USING (threshold)""".stripMargin
  }

  // ------------------------------------------------------------------
  // DuckDB oracle SQL, generated from the SAME constants as the Spark
  // plans above so the two can never drift.
  // ------------------------------------------------------------------

  private[ops] def wordsCteFrom(src: String): String =
    s"""WITH words AS (
       |  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS word
       |  FROM $src
       |)""".stripMargin

  private val wordsCte = wordsCteFrom("documents")

  private[ops] def sigCteFrom(src: String): String = {
    val mins = minhashParams.zipWithIndex.map { case ((a, b), j) =>
      s"min((x * $a + $b) % $prime) AS m$j"
    }.mkString(",\n         ")
    s"""${wordsCteFrom(src)}, hx AS (
       |  SELECT doc_id, ('0x' || substr(md5(word), 1, 8))::BIGINT AS x FROM words
       |), sig AS (
       |  SELECT doc_id,
       |         $mins
       |  FROM hx GROUP BY doc_id
       |)""".stripMargin
  }

  private val sigCte: String = sigCteFrom("documents")

  /** s1/s2-qualified LSH band-match predicate (any of 4 bands fully
    * equal) and the matching-slot count — shared by the pair and
    * resolution oracles. */
  private[ops] val bandEqSql: String = (0 until 4).map { band =>
    (0 until 4).map(j => s"s1.m${band * 4 + j} = s2.m${band * 4 + j}")
      .mkString("(", " AND ", ")")
  }.mkString(" OR ")

  private[ops] val matchesSql: String =
    (0 until 16).map(j => s"(s1.m$j = s2.m$j)::INT").mkString(" + ")

  val minhashSigSql: String =
    s"""$sigCte
       |SELECT * FROM sig""".stripMargin

  val minhashPairsSql: String =
    s"""$sigCte
       |SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b,
       |       CAST($matchesSql AS DOUBLE) / CAST(16 AS DOUBLE) AS est_jaccard
       |FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id
       |WHERE $bandEqSql""".stripMargin

  /** MinHash estimator calibration — measured |est − true| error of
    * the 16-slot signature estimate against the TRUE word-set Jaccard,
    * over a deterministic salted-md5 sample of the banded candidate
    * pairs (the population the pipeline actually acts on). Every
    * threshold decision ([[thresholdCurve]], [[resolveDuplicates]])
    * trusts `matches/16`; this is the row that says how far that
    * estimate strays — the measure-don't-guess discipline
    * ([[lshRecall]]) applied to the estimator itself rather than the
    * bucketing. Exact integer ppm on both sides: est_ppm reconstructs
    * the slot count from the double (`round(est·16)·62500` — 10⁶/16
    * is exact) and true_ppm is floor-divided set arithmetic over the
    * distinct-word arrays (the same sets the signature hashes).
    * Output: 100k-ppm error-band histogram (≤ 11 rows). Rides the
    * session-cached candidate table; the word arrays ship only for
    * the ~1/`sampleMod` sampled pairs. */
  def minhashEstError(docs: DataFrame, sampleMod: Int = 20): DataFrame = {
    val sampled = minhashPairs(docs)
      .filter(pmod(expr(
        "CAST(conv(substring(md5(concat(CAST(doc_a AS STRING), '_', " +
          "CAST(doc_b AS STRING))), 1, 8), 16, 10) AS BIGINT)"),
        lit(sampleMod.toLong)) === 0)
    val words = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("w"))
    sampled
      .join(words.select(col("doc_id").as("doc_a"), col("w").as("wa")), "doc_a")
      .join(words.select(col("doc_id").as("doc_b"), col("w").as("wb")), "doc_b")
      .withColumn("n_inter",
        size(array_intersect(col("wa"), col("wb"))).cast("long"))
      .withColumn("n_union",
        size(col("wa")).cast("long") + size(col("wb")).cast("long")
          - col("n_inter"))
      .withColumn("true_ppm", expr("(n_inter * 1000000) div n_union"))
      .withColumn("est_ppm",
        expr("CAST(round(est_jaccard * 16) AS BIGINT) * 62500"))
      .withColumn("err_band", expr("abs(est_ppm - true_ppm) div 100000"))
      .groupBy("err_band")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Oracle for [[minhashEstError]]: the candidate-pair CTE, the same
    * hex-parsed sample, list-set arithmetic for the true Jaccard. */
  def minhashEstErrorSql(sampleMod: Int = 20): String =
    s"""$sigCte, cand AS (
       |  SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b,
       |         CAST($matchesSql AS DOUBLE) / CAST(16 AS DOUBLE) AS est_jaccard
       |  FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id
       |  WHERE $bandEqSql
       |), samp AS (
       |  SELECT * FROM cand
       |  WHERE ('0x' || substr(md5(CAST(doc_a AS VARCHAR) || '_' ||
       |          CAST(doc_b AS VARCHAR)), 1, 8))::BIGINT % $sampleMod = 0
       |), dw AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS w
       |  FROM documents
       |), scored AS (
       |  SELECT CAST(len(list_intersect(a.w, b.w)) AS BIGINT) AS n_inter,
       |         CAST(len(a.w) AS BIGINT) + CAST(len(b.w) AS BIGINT)
       |           - CAST(len(list_intersect(a.w, b.w)) AS BIGINT) AS n_union,
       |         CAST(round(s.est_jaccard * 16) AS BIGINT) * 62500 AS est_ppm
       |  FROM samp s JOIN dw a ON a.doc_id = s.doc_a
       |       JOIN dw b ON b.doc_id = s.doc_b
       |)
       |SELECT abs(est_ppm - (n_inter * 1000000) // n_union) // 100000
       |         AS err_band,
       |       count(*) AS n_pairs
       |FROM scored GROUP BY 1""".stripMargin

  /** Prefix-duplicate census — docs sharing their first `prefixLen`
    * characters, the cheap tier that catches what full-content hashing
    * misses in the OTHER direction: truncation artifacts (one crawl
    * cut short mid-page) and template headers (same boilerplate
    * opening, different tails) group together here while their full
    * digests differ. One window-min over the prefix key (an
    * equivalence relation, so no CC is needed); output is the per-source
    * rollup with exact ppm, the "which ingest is truncating" table. */
  def prefixDup(docs: DataFrame, prefixLen: Int = 64): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("pfx")
    docs.select(col("doc_id"), col("source"),
        substring(col("text"), 1, prefixLen).as("pfx"))
      .withColumn("minp", min(col("doc_id")).over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("CASE WHEN doc_id > minp THEN 1L ELSE 0L END"))
          .as("n_prefix_dups"))
      .withColumn("dup_ppm", expr("(n_prefix_dups * 1000000) div n_docs"))
  }

  /** Oracle for [[prefixDup]]. */
  def prefixDupSql(prefixLen: Int = 64): String =
    s"""WITH p AS (
       |  SELECT doc_id, source,
       |         min(doc_id) OVER (PARTITION BY substr(text, 1, $prefixLen))
       |           AS minp
       |  FROM documents
       |)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN doc_id > minp THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_prefix_dups,
       |       (CAST(sum(CASE WHEN doc_id > minp THEN 1 ELSE 0 END) AS BIGINT)
       |          * 1000000) // count(*) AS dup_ppm
       |FROM p GROUP BY 1""".stripMargin

  /** Edit-distance verification tier — exact Levenshtein over a
    * deterministic sample of the banded candidate pairs, the
    * character-level arbiter the set-based tiers can't provide:
    * Jaccard is blind to ORDER (a shuffled bag of the same words
    * scores 1.0), so a pipeline promoting near-dups to hard deletes
    * wants the character check on the pairs it's about to act on.
    * Distance runs on the first `prefixLen` chars (the DP is O(m·n)
    * per pair — unbounded docs would make one pair a straggler; a
    * fixed prefix bounds every cell at prefixLen² and is the standard
    * production guard), and both engines' `levenshtein` is the classic
    * unit-cost DP, so the integer distances agree exactly.
    * CHARSET CONTRACT (ADVICE r11; ENFORCED r13): Spark's levenshtein
    * counts code points while DuckDB's is byte-oriented, so multibyte
    * characters count differently per edit. Rather than documenting an
    * ASCII-only contract (the r13 sf1 corpus promptly violated it —
    * ScaleGen's ▲-marker made 77% of sampled distances diverge), the
    * op now ENFORCES the projection it prescribed: every non-ASCII
    * code point folds to '?' in BOTH engines (`[^\x00-\x7F]` is
    * code-point-wise in Java regex and RE2 alike, so the folded
    * strings are identical), after which byte = char and the DP
    * agrees exactly. Distances are therefore exact on ASCII text and
    * ASCII-projected elsewhere — the standard byte-fold a production
    * near-dup verifier applies before unit-cost DP anyway.
    * `lev_ppm` normalizes by the longer prefix. Sampling is the
    * [[minhashEstError]] salted-md5 pair hash at 1/`sampleMod`; the
    * dials are set by the DP's measured cost — 5% × 200² ran 47.8 s at
    * sf0.1 (30× the set-intersection calibration: ~40k DP cells/pair
    * vs ~200 array ops), 0.5% × 128² runs ~2 s at the same fidelity
    * per sampled pair. */
  def editDistance(docs: DataFrame, sampleMod: Int = 200,
      prefixLen: Int = 128): DataFrame = {
    val sampled = minhashPairs(docs)
      .filter(pmod(expr(
        "CAST(conv(substring(md5(concat(CAST(doc_a AS STRING), '_', " +
          "CAST(doc_b AS STRING))), 1, 8), 16, 10) AS BIGINT)"),
        lit(sampleMod.toLong)) === 0)
    val pref = docs.select(col("doc_id"),
      regexp_replace(substring(col("text"), 1, prefixLen),
        "[^\\x00-\\x7F]", "?").as("p"))
    sampled
      .join(pref.select(col("doc_id").as("doc_a"), col("p").as("pa")), "doc_a")
      .join(pref.select(col("doc_id").as("doc_b"), col("p").as("pb")), "doc_b")
      .withColumn("lev", levenshtein(col("pa"), col("pb")).cast("long"))
      .withColumn("lev_ppm", expr(
        "(lev * 1000000) div greatest(length(pa), length(pb))"))
      .select(col("doc_a"), col("doc_b"),
        (col("est_jaccard")).as("est_jaccard"),
        col("lev"), col("lev_ppm"))
  }

  /** Oracle for [[editDistance]]: identical sample, prefixes, and DP. */
  def editDistanceSql(sampleMod: Int = 200, prefixLen: Int = 128): String =
    s"""$sigCte, cand AS (
       |  SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b,
       |         CAST($matchesSql AS DOUBLE) / CAST(16 AS DOUBLE) AS est_jaccard
       |  FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id
       |  WHERE $bandEqSql
       |), samp AS (
       |  SELECT * FROM cand
       |  WHERE ('0x' || substr(md5(CAST(doc_a AS VARCHAR) || '_' ||
       |          CAST(doc_b AS VARCHAR)), 1, 8))::BIGINT % $sampleMod = 0
       |), pref AS (
       |  SELECT doc_id, regexp_replace(substr(text, 1, $prefixLen),
       |           '[^\\x00-\\x7F]', '?', 'g') AS p
       |  FROM documents
       |)
       |SELECT s.doc_a, s.doc_b, (s.est_jaccard) AS est_jaccard,
       |       CAST(levenshtein(a.p, b.p) AS BIGINT) AS lev,
       |       (CAST(levenshtein(a.p, b.p) AS BIGINT) * 1000000)
       |         // greatest(length(a.p), length(b.p)) AS lev_ppm
       |FROM samp s JOIN pref a ON a.doc_id = s.doc_a
       |     JOIN pref b ON b.doc_id = s.doc_b""".stripMargin

  /** Dedup threshold-sweep curve — the tuning table a curation run
    * reads before COMMITTING to a similarity cutoff: for each candidate
    * threshold, how many near-dup pairs fire and how many documents
    * they touch. One banded candidate pass feeds every threshold (the
    * thresholds ride a ≤|thresholds|-row broadcast join, so the sweep
    * costs one pair scan, not |thresholds| of them). Thresholds default
    * to exact multiples of 1/16 — est_jaccard IS k/16, so every
    * comparison is boundary-exact in both engines. */
  def thresholdCurve(docs: DataFrame,
      thresholds: Seq[Double] = Seq(0.5, 0.625, 0.75, 0.875, 1.0))
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tDf = thresholds.toDF("threshold")
    // r17 (guide §1.2): one pass over the |thresholds|-fanned pair join
    // instead of two — the exploded endpoint stream carries exactly 2
    // rows per fired pair, so n_pairs = count div 2 (integer-exact) and
    // n_docs = the same stream's distinct count.
    val agg = minhashPairs(docs)
      .join(broadcast(tDf), col("est_jaccard") >= col("threshold"))
      .select(col("threshold"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy("threshold").agg(
        expr("count(1) div 2").as("p"),
        countDistinct(col("d")).as("nd"))
    tDf.join(agg, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("p"), lit(0L)).as("n_pairs"),
        coalesce(col("nd"), lit(0L)).as("n_docs"))
  }

  /** Oracle for [[thresholdCurve]]. */
  def thresholdCurveSql(
      thresholds: Seq[Double] = Seq(0.5, 0.625, 0.75, 0.875, 1.0))
      : String = {
    val values = thresholds.map(t => s"(${t}::DOUBLE)").mkString(", ")
    s"""$sigCte,
       |pj AS (
       |  SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b,
       |         CAST($matchesSql AS DOUBLE) / CAST(16 AS DOUBLE)
       |           AS est_jaccard
       |  FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id
       |  WHERE $bandEqSql
       |), t AS (
       |  SELECT * FROM (VALUES $values) v(threshold)
       |), j AS (
       |  SELECT t.threshold, pj.doc_a, pj.doc_b
       |  FROM pj, t WHERE pj.est_jaccard >= t.threshold
       |), np AS (
       |  SELECT threshold, count(*) AS p FROM j GROUP BY 1
       |), nd AS (
       |  SELECT threshold, count(DISTINCT d) AS nd FROM (
       |    SELECT threshold, doc_a AS d FROM j
       |    UNION ALL SELECT threshold, doc_b FROM j
       |  ) GROUP BY 1
       |)
       |SELECT t.threshold,
       |       CAST(coalesce(np.p, 0) AS BIGINT) AS n_pairs,
       |       CAST(coalesce(nd.nd, 0) AS BIGINT) AS n_docs
       |FROM t LEFT JOIN np USING (threshold)
       |       LEFT JOIN nd USING (threshold)""".stripMargin
  }

  /** Modularity (Newman–Girvan) of the STRICT-threshold dedup
    * clustering measured against the LOOSE-threshold similarity
    * graph — the clustering-quality QC of a threshold pair:
    * Q = Σ_c [m_c/m − (d_c/2m)²] with labels = connected components at
    * `strictThreshold` (0.9, the near-identical cliques) and edges =
    * the [[resolveThreshold]] 0.5 graph. Labels from the SAME graph
    * would be vacuous (CC cuts no edges of its own graph — Q
    * degenerates to a size-concentration number); against the looser
    * graph the cut edges are exactly the moderate-similarity pairs the
    * strict clustering separates, so Q falling means the two tiers
    * disagree about structure — the signal to revisit one of them.
    *
    * Exact-integer fraction: numerator `Σ_c (4·m·m_c − d_c²)` and
    * denominator `4m²` are BIGINTs; ONE correctly-rounded double
    * division at the end, so the rounded value is engine-identical.
    * Cost on top of the two (session-cached) edge lists + labels: two
    * cluster-cardinality-sized aggregates.
    *
    * Scale guard (VERDICT r10 #2): the loose 0.5-graph is the 100×
    * cost driver (60 M edges at 10×, edge-linear label joins +
    * degree aggregates). With `edgeBudget > 0` the measurement runs
    * over a DETERMINISTIC edge sample: `sampleMod = ceil(m₀ /
    * edgeBudget)` derived from the full loose edge count (a cheap
    * scan of the cached two-long-column edge list), keep an edge iff
    * its engine-shared salted-md5 bucket ≡ 0 (a hash both engines
    * compute identically) — so the post-sample cost
    * is bounded by the budget at ANY corpus size while small corpora
    * (m₀ ≤ budget → sampleMod = 1) keep the exact full-graph Q.
    * Uniform edge sampling preserves the m_c/m and d_c/2m fractions
    * in expectation, so sampled Q estimates full Q; `sample_mod` is
    * emitted so readers see which regime produced the number.
    * `edgeBudget = 0` forces the exact full-loose form. */
  def modularity(docs: DataFrame,
      strictThreshold: Double = triangleThreshold,
      edgeBudget: Long = 0L): DataFrame = {
    val sampleMod =
      if (edgeBudget <= 0L) 1L
      else math.max(1L,
        (looseEdgeCount(docs) + edgeBudget - 1L) / edgeBudget)
    // the (sampled-edge ⋈ labels) table is consumed THREE times (m,
    // intra, deg) and is budget-bounded (≤ ~edgeBudget rows × 4 longs)
    // — session-cache it like the edge list so the joins run once
    val labeled = cached(labeledEdgeCache, docs,
        java.lang.Double.doubleToLongBits(strictThreshold), edgeBudget) { d =>
      val allEdges = dupEdges(d)
      val edges =
        if (sampleMod == 1L) allEdges
        else allEdges.filter(pmod(expr(
          "CAST(conv(substring(md5(concat(CAST(doc_a AS STRING), '_', " +
            "CAST(doc_b AS STRING))), 1, 8), 16, 10) AS BIGINT)"),
          lit(sampleMod)) === 0L)
      val labels = strictComponentLabels(d, strictThreshold)
      edges
        .join(labels.select(col("doc_id").as("doc_a"), col("c").as("ca")),
          "doc_a")
        .join(labels.select(col("doc_id").as("doc_b"), col("c").as("cb")),
          "doc_b")
    }
    val m = labeled.count()
    val intra = labeled.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("mc"))
    val deg = labeled.select(col("ca").as("c"))
      .union(labeled.select(col("cb")))
      .groupBy("c").agg(count(lit(1)).as("dc"))
    deg.join(intra, Seq("c"), "left")
      .select((lit(4L) * lit(m) * coalesce(col("mc"), lit(0L))
        - col("dc") * col("dc")).as("term"))
      .agg(sum(col("term")).as("num"))
      .select(
        lit(m).as("n_edges"),
        lit(sampleMod).as("sample_mod"),
        // m == 0 (empty loose graph) would divide by zero → NULL; an
        // edgeless graph has nothing to cut, so Q is defined as 0.
        (if (m == 0L) lit(0.0)
         else (col("num").cast("double")
           / (lit(4.0) * lit(m).cast("double") * lit(m).cast("double"))))
          .as("modularity"))
  }

  /** Oracle for [[modularity]]: the [[resolveCtesFrom]] label chain at
    * the strict threshold, a second loose pair set off the same `sig`
    * CTE, the identical budget-derived deterministic edge sample, and
    * the identical exact-integer fraction. */
  def modularitySql(strictThreshold: Double = triangleThreshold,
      edgeBudget: Long = 0L): String =
    s"""WITH ${resolveCtesFrom("documents", threshold = strictThreshold)},
       |p05 AS MATERIALIZED (
       |  SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b
       |  FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id
       |  WHERE ($bandEqSql)
       |    AND CAST($matchesSql AS DOUBLE) / CAST(16 AS DOUBLE)
       |        >= $resolveThreshold
       |), smod AS (
       |  SELECT CASE WHEN ${edgeBudget}::BIGINT <= 0 THEN 1::BIGINT
       |              ELSE greatest(1::BIGINT,
       |                (count(*) + ${edgeBudget} - 1) // ${math.max(edgeBudget, 1L)})
       |         END AS s
       |  FROM p05
       |), samp AS (
       |  SELECT doc_a, doc_b FROM p05, smod
       |  WHERE smod.s = 1
       |     OR ('0x' || substr(md5(CAST(doc_a AS VARCHAR) || '_'
       |          || CAST(doc_b AS VARCHAR)), 1, 8))::BIGINT % smod.s = 0
       |), lbl AS (
       |  SELECT e.doc_a, e.doc_b, ra.canonical_doc AS ca,
       |         rb.canonical_doc AS cb
       |  FROM samp e
       |  JOIN resolved ra ON ra.doc_id = e.doc_a
       |  JOIN resolved rb ON rb.doc_id = e.doc_b
       |), m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m FROM lbl
       |), intra AS (
       |  SELECT ca AS c, CAST(count(*) AS BIGINT) AS mc
       |  FROM lbl WHERE ca = cb GROUP BY 1
       |), deg AS (
       |  SELECT c, CAST(count(*) AS BIGINT) AS dc FROM (
       |    SELECT ca AS c FROM lbl UNION ALL SELECT cb FROM lbl
       |  ) GROUP BY 1
       |), num AS (
       |  SELECT CAST(sum(4 * m.m * coalesce(i.mc, 0) - d.dc * d.dc)
       |              AS BIGINT) AS num
       |  FROM deg d LEFT JOIN intra i USING (c), m
       |)
       |SELECT m.m AS n_edges, smod.s AS sample_mod,
       |       CASE WHEN m.m > 0
       |            THEN (CAST(num.num AS DOUBLE)
       |               / (4.0 * CAST(m.m AS DOUBLE) * CAST(m.m AS DOUBLE)))
       |            ELSE 0.0 END AS modularity
       |FROM num, m, smod""".stripMargin

  /** Cross-source duplication matrix — WHICH sources mirror each
    * other: near-dup pairs rolled up by the (lexicographically
    * ordered) source pair of their endpoints. The crawl-diagnostics
    * read of the dup graph: a hot off-diagonal cell is a mirror site /
    * syndication pair worth a crawl rule; the diagonal is
    * within-source duplication. One join of the (cached) edge list to
    * the doc→source map on each endpoint, then a ≤|sources|²-row
    * aggregate. */
  def dupBySource(docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val edges = dupEdges(docs)
      .join(src.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("source", "sa"), "doc_a")
      .join(src.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("source", "sb"), "doc_b")
    edges
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_dup_pairs"))
  }

  /** Oracle for [[dupBySource]]. */
  val dupBySourceSql: String =
    s"""WITH ${pairsCtesFrom("documents")},
       |e AS (
       |  SELECT p.doc_a, p.doc_b, da.source AS sa, db.source AS sb
       |  FROM pairs p
       |  JOIN documents da ON da.doc_id = p.doc_a
       |  JOIN documents db ON db.doc_id = p.doc_b
       |)
       |SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
       |       CAST(count(*) AS BIGINT) AS n_dup_pairs
       |FROM e GROUP BY 1, 2""".stripMargin

  /** LSH band-geometry tuning table — the MEASURED S-curve behind the
    * (bands × rows) choice: for each way of splitting the 16-slot
    * MinHash signature into b bands of r rows, how many candidate
    * pairs fire and what fraction of the true ≥0.5-Jaccard pairs they
    * capture. More bands → higher recall AND more candidates; this
    * table is how a corpus picks its operating point instead of
    * trusting the 1−(1−j^r)^b formula on faith.
    *
    * ONE join feeds every config: the any-single-slot-match pair set
    * is a superset of every banding's candidates AND of all true
    * pairs (≥8 matching slots implies ≥1), so each config's fired
    * flag and the truth flag are pure per-pair bit expressions over
    * that superset — no per-config re-join, no all-pairs scan. The
    * superset join is the only quadratic-risk stage, so it runs on a
    * deterministic doc_id sample (`sampleMod`) — exactly how band
    * geometry is tuned in practice — with the first-matching-slot
    * emit rule ([[bandJoin]]'s collision-proof dedup). */
  def bandTuning(docs: DataFrame, sampleMod: Int = 5): DataFrame = {
    // Session-cached superset pair table (VERDICT r10 #3): the
    // any-slot-match join is the whole cost of this operator, and its
    // pair rows compress to one 16-bit slot-equality MASK — every
    // config's fired flag and the truth flag are bit tests over it, so
    // the cached row is (doc_a, doc_b, mask) and repeat calls skip the
    // join entirely.
    val base = cached(tuningPairCache, docs, sampleMod.toLong) { d =>
      val sig = minhashSignatures(d.filter(col("doc_id") % sampleMod === 0))
      val slots = sig.select(
        Seq(col("doc_id")) ++ (0 until 16).map(j => col(s"m$j")) :+
          explode(array((0 until 16).map(j =>
            struct(lit(j).as("slot"), col(s"m$j").as("v"))): _*)).as("sv"): _*)
        .select(Seq(col("doc_id"), col("sv.slot").as("slot"),
          col("sv.v").as("v")) ++ (0 until 16).map(j => col(s"m$j")): _*)
      val l = slots.select(Seq(col("slot"), col("v"),
        col("doc_id").as("doc_a")) ++
        (0 until 16).map(j => col(s"m$j").as(s"a$j")): _*)
      val r = slots.select(Seq(col("slot"), col("v"),
        col("doc_id").as("doc_b")) ++
        (0 until 16).map(j => col(s"m$j").as(s"b$j")): _*)
      val firstEq = (0 until 16).map(j => s"WHEN a$j = b$j THEN $j")
        .mkString("CASE ", " ", " ELSE -1 END")
      val maskExpr = (0 until 16).map(j =>
        s"(CASE WHEN a$j = b$j THEN ${1 << j} ELSE 0 END)").mkString(" + ")
      l.join(r, Seq("slot", "v"))
        .filter(col("doc_a") < col("doc_b"))
        .filter(expr(firstEq) === col("slot"))
        .select(col("doc_a"), col("doc_b"),
          expr(maskExpr).cast("int").as("mask"))
    }.withColumn("is_true", expr("bit_count(mask)") >= 8)
    def firedMask(cfg: (Int, Int)): String = {
      val (b, r) = cfg
      (0 until b).map { band =>
        val bm = ((1 << r) - 1) << (band * r)
        s"(mask & $bm) = $bm"
      }.mkString(" OR ")
    }
    val aggs = bandTuningConfigs.flatMap { case cfg @ (b, rr) =>
      Seq(
        sum(when(expr(firedMask(cfg)), 1L).otherwise(0L))
          .as(s"cand_${b}_$rr"),
        sum(when(expr(firedMask(cfg)) && col("is_true"), 1L)
          .otherwise(0L)).as(s"capt_${b}_$rr"))
    } :+ sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true")
    val stackArgs = bandTuningConfigs.map { case (b, rr) =>
      s"$b, $rr, cand_${b}_$rr, capt_${b}_$rr"
    }.mkString(", ")
    base.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${bandTuningConfigs.size}, $stackArgs) AS " +
        "(bands, rows_per_band, n_candidates, n_captured)"),
        col("n_true"))
      .select(col("bands"), col("rows_per_band"),
        col("n_candidates"), col("n_captured"), col("n_true"),
        expr("CASE WHEN n_true > 0 " +
          "THEN n_captured * 1000000 div n_true END").as("recall_ppm"))
  }

  private val bandTuningConfigs: Seq[(Int, Int)] =
    Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))

  private val tuningPairCache =
    new java.util.concurrent.ConcurrentHashMap[CacheKey, Memo]()

  /** Oracle for [[bandTuning]]: all-pairs over the same sample (cheap
    * there), identical fired/truth bit expressions, configs stacked by
    * UNION ALL. */
  def bandTuningSql(sampleMod: Int = 5): String = {
    val eqs = (0 until 16).map(j =>
      s"s1.m$j = s2.m$j").mkString(" OR ")
    def fired(cfg: (Int, Int)): String = {
      val (b, r) = cfg
      (0 until b).map { band =>
        (0 until r).map(i => s"s1.m${band * r + i} = s2.m${band * r + i}")
          .mkString("(", " AND ", ")")
      }.mkString(" OR ")
    }
    val nm = (0 until 16).map(j =>
      s"(CASE WHEN s1.m$j = s2.m$j THEN 1 ELSE 0 END)").mkString(" + ")
    val flagCols = bandTuningConfigs.map { case cfg @ (b, r) =>
      s"CASE WHEN ${fired(cfg)} THEN 1 ELSE 0 END AS f_${b}_$r"
    }.mkString(",\n         ")
    val perCfg = bandTuningConfigs.map { case (b, r) =>
      s"""SELECT $b AS bands, $r AS rows_per_band,
         |  CAST(sum(f_${b}_$r) AS BIGINT) AS n_candidates,
         |  CAST(sum(CASE WHEN f_${b}_$r = 1 AND nm >= 8 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_captured,
         |  CAST(sum(CASE WHEN nm >= 8 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_true
         |FROM p""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH sample AS (
       |  SELECT * FROM documents WHERE doc_id % $sampleMod = 0
       |), ${sigCteFrom("sample").stripPrefix("WITH ")},
       |p AS MATERIALIZED (
       |  SELECT $nm AS nm,
       |         $flagCols
       |  FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id
       |  WHERE $eqs
       |)
       |SELECT bands, rows_per_band, n_candidates, n_captured, n_true,
       |       CASE WHEN n_true > 0
       |            THEN n_captured * 1000000 // n_true END AS recall_ppm
       |FROM ($perCfg)""".stripMargin
  }

  private val simhashCte: String = {
    val votes = (0 until simhashBits)
      .map(b => s"sum(CASE WHEN (x >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n         ")
    val assemble = (0 until simhashBits)
      .map(b => s"CASE WHEN s$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END")
      .mkString(" + ")
    s"""$wordsCte, hx AS (
       |  SELECT doc_id, lang, ('0x' || substr(md5(word), 1, 15))::BIGINT AS x FROM words
       |), votes AS (
       |  SELECT doc_id, lang,
       |         $votes
       |  FROM hx GROUP BY doc_id, lang
       |), sh AS (
       |  SELECT doc_id, lang, $assemble AS simhash FROM votes
       |)""".stripMargin
  }

  val simhashSigSql: String =
    s"""$simhashCte
       |SELECT * FROM sh""".stripMargin

  /** Oracle: all-pairs Hamming scan — the banded join is exactly a
    * candidate generator for this predicate (pigeonhole guarantees no
    * ≤-maxHamming pair escapes all bands), so the naive quadratic form
    * is the ground truth the scale-shaped plan must reproduce. */
  val simhashPairsSql: String =
    s"""$simhashCte
       |SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b,
       |       CAST(bit_count(xor(s1.simhash, s2.simhash)) AS INTEGER) AS hamming
       |FROM sh s1 JOIN sh s2
       |  ON s1.doc_id < s2.doc_id
       |WHERE bit_count(xor(s1.simhash, s2.simhash)) <= $simhashMaxHamming""".stripMargin

  /** Oracle for [[resolveDuplicates]]: same pair graph, with the
    * transitive closure done by a recursive CTE (min reachable id ==
    * component min, since edges are undirected and every doc seeds its
    * own id). */
  /** Pair graph + recursive transitive closure + canonical/size CTEs
    * over corpus source `src` — chain after `WITH RECURSIVE …`. Ends in
    * `resolved(doc_id, canonical_doc)` and `sizes(canonical_doc,
    * cluster_size)`. */
  /** Record-linkage fuzzy matching: document pairs whose text PREFIX
    * is within `maxDist` edits, blocked by (lang, source, length
    * bucket) so the quadratic comparison never crosses block
    * boundaries — the classic blocking+compare linkage plan. Both
    * engines implement the same unit-cost Levenshtein, and the
    * distance is an exact integer, so the oracle compares exactly.
    * At scale the block key is THE cost control: comparisons are
    * O(Σ block²), never O(corpus²); skewed blocks would re-block on a
    * longer key (the [[Dedup]] banding discipline). */
  def fuzzyPairs(docs: DataFrame, prefixLen: Int = 40,
      maxDist: Int = 12): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("lang"), col("source"),
      expr("n_chars div 64").as("lenb"),
      // ASCII-fold before the DP — the editDistance charset contract
      regexp_replace(substring(col("text"), 1, prefixLen),
        "[^\\x00-\\x7F]", "?").as("head"))
    val a = keyed.select(col("lang"), col("source"), col("lenb"),
      col("doc_id").as("doc_a"), col("head").as("head_a"))
    val b = keyed.select(col("lang"), col("source"), col("lenb"),
      col("doc_id").as("doc_b"), col("head").as("head_b"))
    a.join(b, Seq("lang", "source", "lenb"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("edit_dist", levenshtein(col("head_a"), col("head_b")))
      .filter(col("edit_dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"))
  }

  /** Oracle for [[fuzzyPairs]]. */
  def fuzzyPairsSql(prefixLen: Int = 40, maxDist: Int = 12): String =
    s"""WITH k AS (
       |  SELECT doc_id, lang, source, n_chars // 64 AS lenb,
       |         regexp_replace(substr(text, 1, $prefixLen),
       |           '[^\\x00-\\x7F]', '?', 'g') AS head
       |  FROM documents
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(levenshtein(a.head, b.head) AS INTEGER) AS edit_dist
       |FROM k a JOIN k b
       |  ON a.lang = b.lang AND a.source = b.source AND a.lenb = b.lenb
       |     AND a.doc_id < b.doc_id
       |WHERE levenshtein(a.head, b.head) <= $maxDist""".stripMargin

  /** sig + threshold-filtered pair CTEs alone (ends in `pairs`) —
    * shared by [[resolveCtesFrom]] and the [[dupBySource]] oracle. */
  private[ops] def pairsCtesFrom(src: String,
      threshold: Double = resolveThreshold): String =
    s"""${sigCteFrom(src).stripPrefix("WITH ")},
       |pairs AS (
       |  SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b
       |  FROM sig s1 JOIN sig s2 ON s1.doc_id < s2.doc_id
       |  WHERE ($bandEqSql)
       |    AND CAST($matchesSql AS DOUBLE) / CAST(16 AS DOUBLE) >= $threshold
       |)""".stripMargin

  /** Strict edge threshold (the [[modularity]] clustering's default):
    * the resolve-level 0.5 graph is HALF the complete graph on this
    * heavily-duplicated corpus, while 0.9 keeps only the near-identical
    * cliques, whose size is bounded by the dup-group size, not the
    * corpus. */
  val triangleThreshold: Double = 0.9

  /** CC labels by UNROLLED min-label propagation + pointer jumping —
    * NOT a recursive transitive closure. The closure (`reach` as
    * all (doc, reachable-label) pairs) is Θ(Σ cluster²) rows: at
    * sf0.1 the 0.5-threshold graph is one ~5k-doc component, the
    * closure is ~25M pairs rebuilt across diameter-many recursive
    * UNION rounds, and DuckDB ran >40 min on it (the r10 full-sf0.1
    * pass caught it). Each unrolled round here is linear in
    * |edges| + |docs| — keep current label, take neighbors' labels
    * (propagate), and compose label-of-label (jump, which doubles
    * effective reach per round) — so `rounds` = 14 covers any
    * component of diameter ≤ 2^13 and the whole chain is
    * O(rounds · |edges|). Non-convergence cannot pass silently:
    * unconverged labels differ from the engine's true components and
    * the row goes red. Grow `rounds` logarithmically with corpus
    * size. Every round CTE is `AS MATERIALIZED`: each round references
    * its predecessor three times, and DuckDB's default CTE INLINING
    * would otherwise expand the chain to 3^rounds plan copies
    * (observed as millions of parquet re-opens → fd exhaustion). */
  private[ops] def resolveCtesFrom(src: String, rounds: Int = 14,
      threshold: Double = resolveThreshold): String = {
    val roundCtes = (1 to rounds).map { k =>
      val prev = s"l${k - 1}"
      s"""l$k AS MATERIALIZED (
         |  SELECT doc, min(lbl) AS lbl FROM (
         |    SELECT doc, lbl FROM $prev
         |    UNION ALL
         |    SELECT e.dst AS doc, p.lbl
         |    FROM $prev p JOIN edges e ON e.src = p.doc
         |    UNION ALL
         |    SELECT p.doc, q.lbl
         |    FROM $prev p JOIN $prev q ON p.lbl = q.doc
         |  ) GROUP BY doc
         |)""".stripMargin
    }.mkString(",\n")
    s"""${pairsCtesFrom(src, threshold)},
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs
       |),
       |l0 AS MATERIALIZED (
       |  SELECT doc_id AS doc, doc_id AS lbl FROM $src
       |),
       |$roundCtes,
       |resolved AS (
       |  SELECT doc AS doc_id, lbl AS canonical_doc FROM l$rounds
       |),
       |sizes AS (
       |  SELECT canonical_doc, count(*) AS cluster_size FROM resolved GROUP BY 1
       |)""".stripMargin
  }

  val resolveSql: String =
    s"""WITH ${resolveCtesFrom("documents")}
       |SELECT r.doc_id, r.canonical_doc, s.cluster_size
       |FROM resolved r JOIN sizes s USING (canonical_doc)""".stripMargin

  /** Quality-aware canonical selection: within each near-dup cluster
    * ([[resolveDuplicates]]), keep the HIGHEST-[[TextOps.qualityScore]]
    * document rather than the lowest doc_id — what a curation pipeline
    * actually wants from dedup resolution (drop the mirror, keep the
    * clean original). Argmax is `max_by` over a (quality, -doc_id)
    * struct: a total order, so ties are deterministic in both engines.
    * One cluster-keyed aggregate on top of the resolution labels — the
    * quality join is doc-keyed, never quadratic in cluster size. */
  def clusterBest(docs: DataFrame): DataFrame =
    resolveDuplicates(docs)
      .join(TextOps.qualityScore(docs).select(col("doc_id"), col("quality")),
        "doc_id")
      .groupBy("canonical_doc", "cluster_size")
      .agg(
        expr("max_by(doc_id, struct(quality, -doc_id))").as("best_doc"),
        max(col("quality")).as("best_quality"))
      .select(col("canonical_doc"), col("cluster_size"),
        col("best_doc"), col("best_quality"))

  /** Oracle for [[clusterBest]]: the [[resolveSql]] closure plus the
    * shared quality CTE, argmax via a windowed rank. */
  val clusterBestSql: String =
    s"""WITH ${resolveCtesFrom("documents")},
       |${TextOps.qualityCte},
       |b AS (
       |  SELECT r.canonical_doc, r.doc_id, q.quality,
       |         row_number() OVER (PARTITION BY r.canonical_doc
       |                            ORDER BY q.quality DESC, r.doc_id) AS rn
       |  FROM resolved r JOIN q USING (doc_id)
       |)
       |SELECT b.canonical_doc, s.cluster_size, b.doc_id AS best_doc,
       |       b.quality AS best_quality
       |FROM b JOIN sizes s USING (canonical_doc)
       |WHERE rn = 1""".stripMargin

  /** N-gram CONTAINMENT near-dup pairs (extension) — the asymmetric
    * companion to [[ngramJaccard]]: `C(A→B) = |A∩B| / |A|` catches a
    * short document embedded verbatim in a long one, which symmetric
    * Jaccard dilutes to noise (quote pages, aggregator articles,
    * prompt-with-context training rows). Same inverted-index postings
    * join — all counters exact integers until two final divides, and
    * the (lang, source) blocking keys bound each posting list. */
  def containment(docs: DataFrame, threshold: Double = 0.3): DataFrame = {
    require(threshold > 0, "containment postings join needs threshold > 0")
    val sh = docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), col("lang"), col("source"),
        expr(shingleExpr).as("shingles"))
    val posts = sh.select(col("lang"), col("source"), col("doc_id"),
      size(col("shingles")).as("sz"), explode_outer(col("shingles")).as("shingle"))
    val l = posts.select(col("lang"), col("source"), col("shingle"),
      col("doc_id").as("doc_a"), col("sz").as("sz_a"))
    val r = posts.select(col("lang"), col("source"), col("shingle"),
      col("doc_id").as("doc_b"), col("sz").as("sz_b"))
    l.join(r, Seq("lang", "source", "shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"),
        count(lit(1)).as("n_inter"))
      .withColumn("c_ab", col("n_inter").cast("double") / col("sz_a").cast("double"))
      .withColumn("c_ba", col("n_inter").cast("double") / col("sz_b").cast("double"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select(col("doc_a"), col("doc_b"),
        (col("c_ab")).as("containment_ab"),
        (col("c_ba")).as("containment_ba"))
  }

  /** Oracle for [[containment]] — list-intersect form over the same
    * shingle sets and blocking keys. */
  def containmentSql(threshold: Double = 0.3): String =
    s"""WITH sh AS (
       |  SELECT doc_id, lang, source,
       |    list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
       |      i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS shingles
       |  FROM documents
       |), p AS (
       |  SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b,
       |         len(list_intersect(s1.shingles, s2.shingles)) AS n_inter,
       |         len(s1.shingles) AS na, len(s2.shingles) AS nb
       |  FROM sh s1 JOIN sh s2
       |    ON s1.lang = s2.lang AND s1.source = s2.source AND s1.doc_id < s2.doc_id
       |)
       |SELECT doc_a, doc_b,
       |       (CAST(n_inter AS DOUBLE) / CAST(na AS DOUBLE)) AS containment_ab,
       |       (CAST(n_inter AS DOUBLE) / CAST(nb AS DOUBLE)) AS containment_ba
       |FROM p
       |WHERE n_inter > 0
       |  AND greatest(CAST(n_inter AS DOUBLE) / CAST(na AS DOUBLE),
       |               CAST(n_inter AS DOUBLE) / CAST(nb AS DOUBLE))
       |        >= ${threshold}::DOUBLE""".stripMargin

  /** LSH quality report (extension) — "measure, don't guess" made a
    * first-class operator: recall and precision of the banded candidate
    * generator ([[minhashPairs]]'s any-band-equal predicate) against the
    * ground truth `slot-match fraction ≥ τ`, over an EXPLICIT
    * deterministic document sample (`doc_id % sampleMod = 0`; the
    * all-pairs ground truth is quadratic by definition, so production
    * runs bound it by sampling — the cap is a parameter, never silent).
    * One row: the numbers that tell you whether the band layout's
    * false-negative rate is acceptable before a 100-TB dedup run. */
  def lshRecall(docs: DataFrame, tau: Double = resolveThreshold,
      sampleMod: Int = 3): DataFrame = {
    val sig = minhashSignatures(docs)
      .filter(col("doc_id") % sampleMod === 0)
    val s1 = sig.select(col("doc_id").as("doc_a") +:
      (0 until 16).map(j => col(s"m$j").as(s"a$j")): _*)
    val s2 = sig.select(col("doc_id").as("doc_b") +:
      (0 until 16).map(j => col(s"m$j").as(s"b$j")): _*)
    val matches = (0 until 16)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    val bandEq = (0 until 4).map { band =>
      (0 until 4).map(j => col(s"a${band * 4 + j}") === col(s"b${band * 4 + j}"))
        .reduce(_ && _)
    }.reduce(_ || _)
    s1.crossJoin(s2).filter(col("doc_a") < col("doc_b"))
      .select((matches.cast("double") / 16d >= tau).as("is_true"),
        bandEq.as("is_cand"))
      .agg(sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true"),
        sum(when(col("is_cand"), 1L).otherwise(0L)).as("n_candidates"),
        sum(when(col("is_true") && col("is_cand"), 1L).otherwise(0L)).as("n_hits"))
      .select(col("n_true"), col("n_candidates"), col("n_hits"),
        (col("n_hits").cast("double") /
          when(col("n_true") === 0L, lit(null)).otherwise(col("n_true"))
            .cast("double")).as("recall"),
        (col("n_hits").cast("double") /
          when(col("n_candidates") === 0L, lit(null)).otherwise(col("n_candidates"))
            .cast("double")).as("precision"))
  }

  /** Oracle for [[lshRecall]] — same sampled all-pairs scan in SQL. */
  def lshRecallSql(tau: Double = resolveThreshold, sampleMod: Int = 3): String =
    s"""$sigCte, sampled AS (
       |  SELECT * FROM sig WHERE doc_id % $sampleMod = 0
       |), scored AS (
       |  SELECT (CAST($matchesSql AS DOUBLE) / 16 >= ${tau}::DOUBLE) AS is_true,
       |         ($bandEqSql) AS is_cand
       |  FROM sampled s1 JOIN sampled s2 ON s1.doc_id < s2.doc_id
       |), agg AS (
       |  SELECT CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       |         CAST(sum(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
       |         CAST(sum(CASE WHEN is_true AND is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |  FROM scored
       |)
       |SELECT n_true, n_candidates, n_hits,
       |       (CAST(n_hits AS DOUBLE) / CAST(nullif(n_true, 0) AS DOUBLE)) AS recall,
       |       (CAST(n_hits AS DOUBLE) / CAST(nullif(n_candidates, 0) AS DOUBLE)) AS "precision"
       |FROM agg""".stripMargin

  /** D (extension) — LSH band-bucket occupancy skew profile: the
    * scale-risk QC for the banded pair join itself. The band join's
    * cost is Σ occupancy² per bucket, so ONE hot bucket (a boilerplate
    * signature shared by millions of docs) quadratically dominates the
    * whole stage at 100 TB — this op is the dashboard that catches it
    * before the join runs. Buckets are the RAW 4-slot band quadruples
    * (not their xxhash64 join key — the raw group is the same
    * partition, engine-portable, and collision-free by construction);
    * occupancy histogram in decades via the digit-count trick
    * ([[graft.ops.EventAnalytics.interarrival]] — no floating log).
    * Rides the session-cached signature table; one |docs|·4 shuffle,
    * ≤ 4·19 rows out at any scale. */
  def bucketSkew(docs: DataFrame): DataFrame = {
    val sig = minhashSignatures(docs)
    val b = sig.select(col("doc_id"), explode(array((0 until 4).map { bb =>
      struct(lit(bb.toLong).as("band"),
        col(s"m${bb * 4}").as("k0"), col(s"m${bb * 4 + 1}").as("k1"),
        col(s"m${bb * 4 + 2}").as("k2"), col(s"m${bb * 4 + 3}").as("k3"))
    }: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.k0").as("k0"),
        col("bk.k1").as("k1"), col("bk.k2").as("k2"), col("bk.k3").as("k3"))
    b.groupBy("band", "k0", "k1", "k2", "k3")
      .agg(count(lit(1)).as("occ"))
      .withColumn("occ_decade",
        expr("CAST(length(CAST(occ AS STRING)) - 1 AS BIGINT)"))
      .groupBy("band", "occ_decade")
      .agg(count(lit(1)).as("n_buckets"), sum(col("occ")).as("n_docs"),
        max(col("occ")).as("max_occ"))
  }

  /** Oracle for [[bucketSkew]]. */
  val bucketSkewSql: String = {
    val bandSelects = (0 until 4).map { bb =>
      s"""SELECT CAST($bb AS BIGINT) AS band, m${bb * 4} AS k0,
         |       m${bb * 4 + 1} AS k1, m${bb * 4 + 2} AS k2,
         |       m${bb * 4 + 3} AS k3 FROM sig""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""$sigCte, b AS (
       |  $bandSelects
       |), occ AS (
       |  SELECT band, k0, k1, k2, k3, count(*) AS occ
       |  FROM b GROUP BY 1, 2, 3, 4, 5
       |)
       |SELECT band,
       |       CAST(length(CAST(occ AS VARCHAR)) - 1 AS BIGINT)
       |         AS occ_decade,
       |       count(*) AS n_buckets,
       |       CAST(sum(occ) AS BIGINT) AS n_docs,
       |       CAST(max(occ) AS BIGINT) AS max_occ
       |FROM occ GROUP BY 1, 2""".stripMargin
  }

  /** D (extension) — duplicate-rate by document-length decade: the
    * dedup-bias QC that answers "does removal skew the length
    * distribution?" (boilerplate dups concentrate in short docs;
    * mirrored dumps in long ones — pruning either reshapes the token
    * mix a pretraining budget was planned against). A doc is `dup` if
    * its exact text hash has >1 member ([[exactDedup]]'s fingerprint);
    * the length decade is the DIGIT COUNT of the table's own `n_chars`
    * column (engine-identical by construction — no string-length
    * semantics to reconcile). One fingerprint-keyed window count +
    * one map-side-combined aggregate; ≤ ~10 rows out at any scale. */
  def lenDupBias(docs: DataFrame): DataFrame = {
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    docs
      .withColumn("fp", md5(col("text")))
      .withColumn("grp", count(lit(1)).over(byFp))
      .withColumn("len_digits", expr(
        "CAST(length(CAST(greatest(n_chars, 1) AS STRING)) AS BIGINT)"))
      .groupBy("len_digits")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("grp") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("dup_ppm", expr("(n_dup_docs * 1000000) div n_docs"))
  }

  /** D (extension) — duplicate-cluster size decade histogram: the
    * shape read on [[exactDedup]]'s output ("is duplication a long
    * tail of pairs or a few mega-clusters?") that decides the dedup
    * strategy — pair-tail corpora dedup cheaply by hash; mega-cluster
    * corpora (boilerplate, mirrors) need the canonical-election path
    * and dominate savings. Decade via digit count (no floating log).
    * One text-hash groupBy + a ≤ ~10-row re-aggregation; integer
    * throughout. */
  def clusterSizeHist(docs: DataFrame): DataFrame =
    exactDedup(docs)
      .groupBy(expr("CAST(length(CAST(n_docs AS STRING)) - 1 AS BIGINT)")
        .as("size_decade"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("n_docs")).as("n_docs"),
        max(col("n_docs")).as("max_cluster"))

  /** Oracle for [[clusterSizeHist]]. */
  val clusterSizeHistSql: String =
    """WITH g AS (
      |  SELECT md5(text) AS fp, count(*) AS n_docs
      |  FROM documents GROUP BY 1
      |)
      |SELECT CAST(length(CAST(n_docs AS VARCHAR)) - 1 AS BIGINT)
      |         AS size_decade,
      |       count(*) AS n_clusters,
      |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |       max(n_docs) AS max_cluster
      |FROM g GROUP BY 1""".stripMargin

  /** Oracle for [[lenDupBias]]. */
  val lenDupBiasSql: String =
    """WITH d AS (
      |  SELECT n_chars, count(*) OVER (PARTITION BY md5(text)) AS grp
      |  FROM documents
      |)
      |SELECT CAST(length(CAST(greatest(n_chars, 1) AS VARCHAR)) AS BIGINT)
      |         AS len_digits,
      |       count(*) AS n_docs,
      |       CAST(sum(CASE WHEN grp > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_dup_docs,
      |       (CAST(sum(CASE WHEN grp > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         * 1000000) // count(*) AS dup_ppm
      |FROM d GROUP BY 1""".stripMargin
}
