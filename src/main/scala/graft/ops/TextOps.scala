package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline tier
  * (BASELINE.json north star; SURVEY.md §7.5): token statistics,
  * heuristic language ID, quality scoring, document fingerprinting.
  *
  * Everything is built-in `functions._` / SQL higher-order functions —
  * whole rows never leave codegen, no UDFs, no shuffle except the
  * final aggregates. Word-level work happens inside array expressions
  * (no explode), so a 100-TB corpus maps straight through the scan.
  */
object TextOps {

  /** Per-language marker-word sets for the n-gram/stopword language-ID
    * heuristic. Deterministic and tiny so both engines inline them. */
  val langWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast"),
    "es" -> Seq("query", "row", "data"),
    "de" -> Seq("join", "hash", "merge"),
    "fr" -> Seq("scan", "filter", "sort"),
    "zh" -> Seq("stream", "batch", "window"))

  private def withWords(docs: DataFrame): DataFrame =
    docs.withColumn("words", split(col("text"), " "))

  /** BPE-ish subword tokenizer regex: letter runs, digit runs, or a
    * single other non-space symbol — the pre-merge atom split a BPE
    * vocabulary starts from. Pure alternation of character classes, so
    * Java regex (Spark) and RE2-style (DuckDB) agree. */
  val subtokenRegex: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** Token counting: whitespace tokens, BPE-ish regex subtokens,
    * distinct tokens, type-token ratio, average token length. */
  def tokenStats(docs: DataFrame): DataFrame =
    withWords(docs).select(
      col("doc_id"),
      size(col("words")).as("n_tokens"),
      size(regexp_extract_all(col("text"), lit(subtokenRegex), lit(0)))
        .as("n_subtokens"),
      size(array_distinct(col("words"))).as("n_distinct"),
      (size(array_distinct(col("words"))).cast("double") /
        size(col("words")).cast("double")).as("ttr"),
      ((length(col("text")) - (size(col("words")) - lit(1))).cast("double") /
        size(col("words")).cast("double")).as("avg_token_len"))

  private def langScore(ws: Seq[String]): String =
    s"size(filter(words, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")})))"

  /** Heuristic language ID: count marker-word hits per language, argmax
    * with a fixed tie-break order (en > es > de > fr > zh). */
  def langId(docs: DataFrame): DataFrame = {
    val scored = langWords.foldLeft(withWords(docs)) { case (df, (lang, ws)) =>
      df.withColumn(s"score_$lang", expr(langScore(ws)))
    }
    val langs = langWords.map(_._1)
    val predicted = langs.zipWithIndex.foldRight(expr(s"'${langs.last}'")) {
      case ((lang, i), els) =>
        val laterLangs = langs.drop(i + 1)
        if (laterLangs.isEmpty) els
        else when(laterLangs.map(l => col(s"score_$lang") >= col(s"score_$l"))
          .reduce(_ && _), lit(lang)).otherwise(els)
    }
    scored.select(
      (col("doc_id") +: langs.map(l => col(s"score_$l")) :+
        predicted.as("predicted_lang")): _*)
  }

  /** Language-ID confusion matrix — the measured-accuracy twin of
    * [[langId]] (the same discipline every approximate ANN path gets a
    * recall row for): predicted language crossed with the corpus's
    * labeled `lang` column. Off-diagonal mass is the heuristic's error
    * profile; a hot cell says which marker set needs work before the
    * classifier gates a 100-TB crawl. One projection + one
    * ≤|langs|²-row aggregate on top of the lang-ID scan. */
  def langIdConfusion(docs: DataFrame): DataFrame =
    langId(docs).select(col("doc_id"), col("predicted_lang"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang").as("true_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** Oracle for [[langIdConfusion]] — the [[langIdSql]] score/argmax
    * chain joined back to the labeled column. */
  val langIdConfusionSql: String = {
    val langs = langWords.map(_._1)
    val scores = langWords.map { case (lang, ws) =>
      s"len(list_filter(words, x -> x IN (${inList(ws)}))) AS score_$lang"
    }.mkString(",\n       ")
    val cases = langs.zipWithIndex.flatMap { case (lang, i) =>
      val later = langs.drop(i + 1)
      if (later.isEmpty) None
      else Some("WHEN " + later.map(l => s"score_$lang >= score_$l")
        .mkString(" AND ") + s" THEN '$lang'")
    }.mkString("\n            ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |s AS (
       |  SELECT doc_id,
       |       $scores
       |  FROM w
       |), pred AS (
       |  SELECT doc_id, CASE $cases
       |                   ELSE '${langs.last}' END AS predicted_lang
       |  FROM s
       |)
       |SELECT d.lang AS true_lang, p.predicted_lang,
       |       CAST(count(*) AS BIGINT) AS n_docs
       |FROM pred p JOIN documents d USING (doc_id)
       |GROUP BY 1, 2""".stripMargin
  }

  /** Per-language BPE fertility (symbols emitted per whitespace word) —
    * THE tokenizer-equity metric: a language whose fertility is 2× the
    * corpus mean pays 2× the context length for the same content, the
    * number multilingual tokenizer reviews are built around. Rides the
    * [[bpeEncode]] per-doc counts (the merge table is the session's
    * trained one) and rolls up by the corpus `lang` column with the
    * exact-integer micro ratio. */
  def bpeFertility(docs: DataFrame, rounds: Int = 3): DataFrame =
    bpeEncode(docs, rounds)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      .withColumn("fertility_micro",
        expr("n_bpe_tokens * 1000000 div n_words"))

  /** Oracle for [[bpeFertility]]. */
  def bpeFertilitySql(rounds: Int = 3): String =
    s"""${bpeCtes(rounds)},
       |enc AS (
       |  SELECT token,
       |         CAST(len(string_split(trim(seq, '|'), '||')) AS BIGINT)
       |           AS n_sym
       |  FROM s$rounds
       |), dt AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
       |  FROM documents
       |)
       |SELECT dt.lang,
       |       CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(e.n_sym) AS BIGINT) AS n_bpe_tokens,
       |       CAST(sum(e.n_sym) * 1000000 // count(*) AS BIGINT)
       |         AS fertility_micro
       |FROM dt JOIN enc e USING (token)
       |WHERE dt.token IS NOT NULL AND dt.token != ''
       |GROUP BY 1""".stripMargin

  /** Text normalization — the standard pre-tokenization cleanup pass:
    * lowercase, non-alphanumerics → space, collapse runs, trim. Pure
    * per-row projection (RE2-compatible patterns on both engines). */
  def normalize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", " "), " +", " ")).as("norm_text"))
      .withColumn("norm_tokens", size(split(col("norm_text"), " ")))

  val normalizeSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
      |  len(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS norm_tokens
      |FROM documents""".stripMargin

  /** Deterministic stratified sampling — downsample over-represented
    * strata (the corpus-balancing pass of a training-data pipeline).
    * Selection is HASH-based, not random: a doc is kept iff
    * `md5(doc_id) mod 1000 < rate(lang)·1000`, so the sample is
    * reproducible run-to-run, stable under repartitioning, and exactly
    * reproducible by the oracle — properties `RAND()`-based sampling
    * (and `df.sample`, which is partition-order dependent) cannot give.
    * Per-row projection + filter: no shuffle at all. */
  def stratifiedSample(docs: DataFrame,
      rates: Map[String, Double] = Map("en" -> 0.3, "de" -> 0.6),
      defaultRate: Double = 1.0): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    docs
      .withColumn("h",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 1000"))
      .filter(col("h") < rate * 1000)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  def stratifiedSampleSql(rates: Map[String, Double] = Map("en" -> 0.3, "de" -> 0.6),
      defaultRate: Double = 1.0): String = {
    // ::DOUBLE on every rate literal: a bare DuckDB literal is DECIMAL
    // and `rate * 1000` would compare exactly while Spark compares in
    // IEEE double — same math in both engines or hash-boundary rows flip
    val cases = rates.map { case (lang, r) => s"WHEN lang = '$lang' THEN $r::DOUBLE" }
      .mkString(" ")
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000
       |      < (CASE $cases ELSE $defaultRate::DOUBLE END) * 1000
       |""".stripMargin
  }

  /** Quality scoring: length, token stats, marker-hit ratio, composite
    * score in [0,1] — the length/stopword-ratio heuristics of corpus
    * filtering pipelines. */
  def qualityScore(docs: DataFrame): DataFrame =
    // r17: session-cached via the shared Dedup stage-cache — ~10
    // registry queries score the same corpus (quality gate, funnel,
    // manifest, quota/mix/budget tiers), each previously re-running the
    // tokenize-and-score text scan. Output is doc-sized (6 narrow
    // columns). [[qualityScoreOf]] stays the uncached entry point.
    Dedup.cached(qualityCache, docs)(qualityScoreOf)

  private val qualityCache =
    new java.util.concurrent.ConcurrentHashMap[Dedup.CacheKey, Dedup.Memo]()

  /** The scoring computation itself, UNCACHED (the signaturesOf
    * discipline — per-micro-batch / ad-hoc callers). */
  def qualityScoreOf(docs: DataFrame): DataFrame = {
    val allMarkers = langWords.flatMap(_._2)
    withWords(docs)
      .withColumn("n_tokens", size(col("words")))
      .withColumn("stop_hits", expr(langScore(allMarkers)))
      .select(
        col("doc_id"),
        col("n_chars"),
        col("n_tokens"),
        (size(array_distinct(col("words"))).cast("double") /
          col("n_tokens").cast("double")).as("uniq_ratio"),
        (col("stop_hits").cast("double") /
          col("n_tokens").cast("double")).as("stop_ratio"),
        (
          lit(0.4) * (size(array_distinct(col("words"))).cast("double") /
            col("n_tokens").cast("double")) +
          lit(0.3) * (col("stop_hits").cast("double") /
            col("n_tokens").cast("double")) +
          lit(0.3) * least(col("n_tokens").cast("double") /
            lit(200).cast("double"), lit(1).cast("double"))).as("quality"))
  }

  /** Document fingerprinting: exact-content hash, order-insensitive
    * content hash (sorted distinct tokens), and a numeric 32-bit
    * fingerprint for bucketing. */
  /** Polynomial rolling-hash parameters: `fp_rolling = Σ h(w_i)·B^i mod
    * p` over word positions, with `h` the 32-bit md5 prefix. The power
    * table is a generated literal in BOTH engines (512 entries ≥ max doc
    * length), so each term stays below 2^62 and the running sum is taken
    * mod p per step. Order-sensitive by construction — permuted
    * documents get different fingerprints (unlike `fp_content`). */
  val rollBase: Long = 1000003L
  val rollPrime: Long = 2147483647L
  val rollPows: Seq[Long] =
    Iterator.iterate(1L)(p => (p * rollBase) % rollPrime).take(512).toSeq

  def fingerprint(docs: DataFrame): DataFrame = {
    val pows = rollPows.map(_ + "L").mkString("array(", ", ", ")")
    val rolling =
      s"""aggregate(
         |  transform(sequence(0, least(size(words), 512) - 1),
         |    i -> (CAST(conv(substring(md5(words[i]), 1, 8), 16, 10) AS BIGINT)
         |          * element_at($pows, i + 1)) % ${rollPrime}L),
         |  0L, (a, x) -> (a + x) % ${rollPrime}L)""".stripMargin
    withWords(docs).select(
      col("doc_id"),
      md5(col("text")).as("fp_exact"),
      md5(concat_ws(" ", array_sort(array_distinct(col("words")))))
        .as("fp_content"),
      conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
        .as("fp_bucket"),
      expr(rolling).as("fp_rolling"))
  }

  /** DuckDB form of [[fingerprint]], generated from the same constants. */
  val fingerprintSql: String = {
    val pows = rollPows.mkString("[", ", ", "]")
    s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents)
       |SELECT doc_id, md5(text) AS fp_exact,
       |  md5(array_to_string(list_sort(list_distinct(words)), ' ')) AS fp_content,
       |  ('0x' || substr(md5(text), 1, 8))::BIGINT AS fp_bucket,
       |  CAST(list_sum(list_transform(generate_series(1, least(len(words), 512)),
       |    i -> (('0x' || substr(md5(words[i]), 1, 8))::BIGINT
       |          * ($pows)[i]) % $rollPrime)) % $rollPrime AS BIGINT) AS fp_rolling
       |FROM w""".stripMargin
  }

  /** Within-document repetition detection — the degenerate-text filter
    * of corpus cleaning (catches stuck generators / boilerplate spam):
    * most-frequent-token share and duplicate-trigram share. All array
    * expressions over the per-row token list; the per-doc cost is
    * O(distinct·tokens), bounded by document length — maps through the
    * scan, no shuffle. */
  def repetitionStats(docs: DataFrame): DataFrame =
    withWords(docs)
      .withColumn("n_tokens", size(col("words")))
      .withColumn("top_count",
        expr("array_max(transform(array_distinct(words), " +
          "w -> size(filter(words, x -> x = w))))"))
      .withColumn("tri_total", greatest(col("n_tokens") - lit(2), lit(0)))
      .withColumn("tri_distinct",
        expr("CASE WHEN size(words) < 3 THEN 0 ELSE " +
          "size(array_distinct(transform(sequence(0, size(words) - 3), " +
          "i -> concat_ws(' ', words[i], words[i+1], words[i+2])))) END"))
      .select(
        col("doc_id"), col("n_tokens"), col("top_count"),
        (col("top_count").cast("double") / col("n_tokens").cast("double"))
          .as("top_word_ratio"),
        when(col("tri_total") > 0,
          (lit(1).cast("double") -
            col("tri_distinct").cast("double") / col("tri_total").cast("double")))
          .otherwise(lit(0.0)).as("dup_trigram_ratio"))

  val repetitionSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
      |), r AS (
      |  SELECT doc_id, len(words) AS n_tokens,
      |    list_max(list_transform(list_distinct(words),
      |      w -> len(list_filter(words, x -> x = w)))) AS top_count,
      |    greatest(len(words) - 2, 0) AS tri_total,
      |    CASE WHEN len(words) < 3 THEN 0 ELSE
      |      len(list_distinct(list_transform(generate_series(1, len(words) - 2),
      |        i -> concat_ws(' ', words[i], words[i+1], words[i+2])))) END AS tri_distinct
      |  FROM w
      |)
      |SELECT doc_id, n_tokens, top_count,
      |  (CAST(top_count AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS top_word_ratio,
      |  CASE WHEN tri_total > 0
      |       THEN (CAST(1 AS DOUBLE) - CAST(tri_distinct AS DOUBLE) / CAST(tri_total AS DOUBLE))
      |       ELSE 0.0::DOUBLE END AS dup_trigram_ratio
      |FROM r""".stripMargin

  /** Document chunking — the context-length packing pass of a
    * pretraining pipeline: fixed-size token windows with overlap
    * (`stride` < `chunkTokens` ⇒ consecutive chunks share
    * `chunkTokens − stride` tokens). Start positions are `i·stride` for
    * `i = 0 .. (max(n − chunk, 0) + stride − 1) div stride`, so every
    * token is covered and the tail chunk may run short. Pure per-row
    * array expressions + one explode — maps through the scan. */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 64,
      stride: Int = 48): DataFrame =
    withWords(docs)
      .select(col("doc_id"),
        // explode_outer: see [[contamination]] — InferFiltersFromGenerate
        explode_outer(expr(
          s"transform(sequence(0, (greatest(size(words) - $chunkTokens, 0) " +
            s"+ ${stride - 1}) div $stride), " +
            s"i -> struct(i AS idx, concat_ws(' ', " +
            s"slice(words, i * $stride + 1, $chunkTokens)) AS chunk))")).as("c"))
      .select(col("doc_id"), col("c.idx").as("chunk_idx"),
        size(split(col("c.chunk"), " ")).as("chunk_tokens"),
        md5(col("c.chunk")).as("chunk_md5"))

  def chunkDocsSql(chunkTokens: Int = 64, stride: Int = 48): String = {
    val piece =
      s"array_to_string(words[chunk_idx * $stride + 1 : chunk_idx * $stride + $chunkTokens], ' ')"
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
       |), c AS (
       |  SELECT doc_id, words,
       |         unnest(generate_series(0,
       |           (greatest(len(words) - $chunkTokens, 0) + ${stride - 1}) // $stride)) AS chunk_idx
       |  FROM w
       |)
       |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       |       CAST(len(string_split($piece, ' ')) AS INT) AS chunk_tokens,
       |       md5($piece) AS chunk_md5
       |FROM c""".stripMargin
  }

  /** Benchmark-contamination detection — flag training docs sharing
    * verbatim n-grams with an evaluation/benchmark set (the
    * decontamination pass every serious pretraining pipeline runs).
    * Inverted-index shape like [[Dedup.ngramJaccard]]: benchmark grams
    * (a small set) join corpus gram postings, so cost scales with
    * actual verbatim overlap — docs sharing nothing never meet. The
    * benchmark side here is the first `benchDocs` doc_ids (a
    * deterministic stand-in for a real eval-set table, which would
    * plug into the same join). */
  def contamination(docs: DataFrame, benchDocs: Long = 20, n: Int = 5,
      flagAt: Int = 3): DataFrame =
    // r17: session-cached (see [[qualityScore]]) — the n-gram inverted
    // probe is pinned once per session, so repeated runs reuse it.
    // Params ride the two extra key slots (benchDocs, n·2^32 + flagAt).
    Dedup.cached(contamCache, docs, benchDocs,
      n.toLong * 4294967296L + flagAt)(d =>
      contaminationOf(d, benchDocs, n, flagAt))

  private val contamCache =
    new java.util.concurrent.ConcurrentHashMap[Dedup.CacheKey, Dedup.Memo]()

  /** The probe computation itself, UNCACHED. */
  def contaminationOf(docs: DataFrame, benchDocs: Long = 20, n: Int = 5,
      flagAt: Int = 3): DataFrame = {
    val gramExpr = (0 until n).map(k => s"ws[i+$k]").mkString(", ")
    val sh = docs.withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"),
        expr(s"array_distinct(transform(sequence(0, size(ws) - $n), " +
          s"i -> concat_ws(' ', $gramExpr)))").as("grams"))
    // explode_outer, not explode: InferFiltersFromGenerate would plant a
    // size(grams) > 0 filter below the Generate whose pushed-down form
    // re-inlines the whole gram transform into an interpreted per-row
    // Filter (the ngramJaccard trap — measured 10× the join's own cost).
    // Null rows explode_outer keeps are dropped by the join key.
    val bench = sh.filter(col("doc_id") < benchDocs)
      .select(col("doc_id").as("bench_id"), explode_outer(col("grams")).as("gram"))
    val corpus = sh.filter(col("doc_id") >= benchDocs)
      .select(col("doc_id"), explode_outer(col("grams")).as("gram"))
    val hits = corpus.join(bench, "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
    docs.filter(col("doc_id") >= benchDocs).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("n_bench_docs"), lit(0L)).as("n_bench_docs"),
        (coalesce(col("n_shared"), lit(0L)) >= flagAt).cast("int")
          .as("contaminated"))
  }

  /** The [[contamination]] oracle's CTE chain through `hits(doc_id,
    * n_shared, n_bench_docs)`. */
  private[ops] def contaminationCtes(benchDocs: Long = 20, n: Int = 5): String = {
    val gramExpr = (0 until n).map(k => s"words[i+$k]").mkString(", ")
    s"""w AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, len(words) - ${n - 1}),
       |      i -> concat_ws(' ', $gramExpr))) AS grams
       |  FROM w WHERE len(words) >= $n
       |), bench AS (
       |  SELECT doc_id AS bench_id, unnest(grams) AS gram FROM sh WHERE doc_id < $benchDocs
       |), corpus AS (
       |  SELECT doc_id, unnest(grams) AS gram FROM sh WHERE doc_id >= $benchDocs
       |), hits AS (
       |  SELECT c.doc_id, count(DISTINCT c.gram) AS n_shared,
       |         count(DISTINCT b.bench_id) AS n_bench_docs
       |  FROM corpus c JOIN bench b ON b.gram = c.gram
       |  GROUP BY 1
       |)""".stripMargin
  }

  def contaminationSql(benchDocs: Long = 20, n: Int = 5,
      flagAt: Int = 3): String = {
    s"""WITH ${contaminationCtes(benchDocs, n)}
       |SELECT d.doc_id,
       |       coalesce(h.n_shared, 0) AS n_shared,
       |       coalesce(h.n_bench_docs, 0) AS n_bench_docs,
       |       CAST(coalesce(h.n_shared, 0) >= $flagAt AS INT) AS contaminated
       |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
       |WHERE d.doc_id >= $benchDocs""".stripMargin
  }

  /** PII detection + redaction — the scrubbing pass of a training-data
    * pipeline: emails, IPv4 addresses, and phone-shaped numbers found by
    * RE2-compatible regexes (so Spark's Java regex and the DuckDB oracle
    * agree), counted and replaced with typed placeholder tokens. Pure
    * per-row projection — codegen'd `regexp_replace`/`regexp_extract_all`,
    * no UDF, maps straight through the scan at any corpus size.
    *
    * The synthetic corpus contains no organic PII, so the operator first
    * derives a deterministic augmented text (every 3rd doc gains an
    * email, every 5th an IP, every 7th a phone — all derived from
    * doc_id), then scrubs it. Redaction order is email → IP → phone so
    * the dotted-quad pattern can't eat an email host. */
  val emailRegex: String = "[a-z0-9._]+@[a-z0-9-]+\\.[a-z]{2,}"
  val ipRegex: String = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phoneRegex: String = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  def piiRedact(docs: DataFrame): DataFrame = {
    val aug = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail-example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" from 192.168."), (col("doc_id") % 256).cast("string"),
          lit("."), ((col("doc_id") * 7) % 256).cast("string"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" call 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-"), lpad(((col("doc_id") * 3) % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")))
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(aug, emailRegex, "<EMAIL>"),
          ipRegex, "<IP>"),
        phoneRegex, "<PHONE>")
    docs.select(col("doc_id"),
      size(regexp_extract_all(aug, lit(emailRegex), lit(0))).as("n_emails"),
      size(regexp_extract_all(aug, lit(ipRegex), lit(0))).as("n_ips"),
      size(regexp_extract_all(aug, lit(phoneRegex), lit(0))).as("n_phones"),
      length(redacted).as("redacted_len"),
      md5(redacted).as("redacted_md5"))
  }

  val piiRedactSql: String =
    s"""WITH a AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 3 = 0
       |            THEN ' contact user' || doc_id || '@mail-example.com now'
       |            ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0
       |            THEN ' from 192.168.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
       |            ELSE '' END
       |    || CASE WHEN doc_id % 7 = 0
       |            THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
       |                 || '-' || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0')
       |            ELSE '' END AS aug
       |  FROM documents
       |), r AS (
       |  SELECT doc_id, aug,
       |    regexp_replace(regexp_replace(regexp_replace(aug,
       |      '$emailRegex', '<EMAIL>', 'g'),
       |      '$ipRegex', '<IP>', 'g'),
       |      '$phoneRegex', '<PHONE>', 'g') AS red
       |  FROM a
       |)
       |SELECT doc_id,
       |  len(regexp_extract_all(aug, '$emailRegex')) AS n_emails,
       |  len(regexp_extract_all(aug, '$ipRegex')) AS n_ips,
       |  len(regexp_extract_all(aug, '$phoneRegex')) AS n_phones,
       |  length(red) AS redacted_len,
       |  md5(red) AS redacted_md5
       |FROM r""".stripMargin

  /** Token frequency-of-frequencies spectrum (count-of-counts): for
    * each occurrence count f, how many distinct tokens occur exactly f
    * times — the input of Good–Turing smoothing, Zipf-fit QC, and the
    * "what fraction of the vocabulary is hapax" health check a corpus
    * gets before tokenizer training (a hapax share far from ~50%
    * usually means boilerplate flooding or aggressive dedup). Two
    * partial-aggregated exchanges — (token) then (tf) — and the output
    * is spectrum-sized: distinct frequencies are O(√total_tokens)
    * (f·n_f ≤ N bounds the support), so the result stays tiny at any
    * corpus scale. */
  def freqSpectrum(docs: DataFrame): DataFrame =
    withWords(docs)
      .select(col("doc_id"), explode_outer(col("words")).as("token"))
      .filter(col("token").isNotNull && col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("tf"))
      .groupBy("tf").agg(count(lit(1)).as("n_tokens"))
      .select(col("tf").as("freq"), col("n_tokens"))

  /** Oracle for [[freqSpectrum]]. */
  val freqSpectrumSql: String =
    """WITH t AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
      |), c AS (
      |  SELECT token, count(*) AS tf
      |  FROM t WHERE token IS NOT NULL AND token != ''
      |  GROUP BY 1
      |)
      |SELECT tf AS freq, CAST(count(*) AS BIGINT) AS n_tokens
      |FROM c GROUP BY 1""".stripMargin

  /** Vocabulary induction — the corpus-global token frequency table a
    * tokenizer build starts from: explode tokens, count, keep the top-k
    * by (count desc, token) with dense rank. ONE shuffle, map-side
    * combined (partial counts merge before the exchange), then a tiny
    * top-k over |vocab| rows — the word-count shape that holds at any
    * corpus size. Document frequency rides along (distinct doc count
    * per token) for downstream IDF/filtering. */
  def vocabTopK(docs: DataFrame, k: Int = 100): DataFrame = {
    val tokens = withWords(docs)
      // explode_outer: InferFiltersFromGenerate re-inlining trap (see
      // [[contamination]]); empty docs yield a null token dropped below
      .select(col("doc_id"), explode_outer(col("words")).as("token"))
      .filter(col("token").isNotNull && col("token") =!= "")
    val counts = tokens.groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
    // orderBy+limit compiles to TakeOrderedAndProject — per-partition
    // partial top-k merged at the driver, NOT a single-task global sort
    // (a row_number window over the full vocab would funnel billions of
    // distinct tokens through one task at corpus scale); the rank window
    // then runs over just the k survivors.
    val byFreq = org.apache.spark.sql.expressions.Window
      .orderBy(col("tf").desc, col("token"))
    counts.orderBy(col("tf").desc, col("token")).limit(k)
      .withColumn("rank", row_number().over(byFreq))
      .select(col("rank"), col("token"), col("tf"), col("df"))
  }

  def vocabTopKSql(k: Int = 100): String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
       |), c AS (
       |  SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
       |  FROM t WHERE token IS NOT NULL AND token != ''
       |  GROUP BY 1
       |)
       |SELECT rank, token, tf, df FROM (
       |  SELECT *, row_number() OVER (ORDER BY tf DESC, token) AS rank FROM c
       |) WHERE rank <= $k""".stripMargin

  /** Corpus bigram statistics, top-k — the n-gram LM count table
    * (KenLM-style) every data-quality and contamination recipe keeps
    * around. Adjacent pairs are BUILT inside one `transform` array
    * expression per doc ([[segmentDedup]] discipline — no explode until
    * pair rows are needed); same [[vocabTopK]] TakeOrdered shape, so
    * the billions-of-distinct-bigrams tail never funnels through one
    * task. */
  def bigramTopK(docs: DataFrame, k: Int = 100): DataFrame = {
    val pairs = withWords(docs)
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), explode_outer(expr(
        "transform(sequence(1, size(words) - 1), " +
          "i -> concat_ws(' ', words[i - 1], words[i]))")).as("bigram"))
      .filter(col("bigram").isNotNull)
    val counts = pairs.groupBy("bigram")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
    val byFreq = org.apache.spark.sql.expressions.Window
      .orderBy(col("tf").desc, col("bigram"))
    counts.orderBy(col("tf").desc, col("bigram")).limit(k)
      .withColumn("rank", row_number().over(byFreq))
      .select(col("rank"), col("bigram"), col("tf"), col("df"))
  }

  /** Oracle for [[bigramTopK]]. */
  def bigramTopKSql(k: Int = 100): String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
       |), b AS (
       |  SELECT doc_id,
       |         unnest(list_transform(generate_series(2, len(words)),
       |           i -> words[i - 1] || ' ' || words[i])) AS bigram
       |  FROM w WHERE len(words) >= 2
       |), c AS (
       |  SELECT bigram, count(*) AS tf, count(DISTINCT doc_id) AS df
       |  FROM b GROUP BY 1
       |)
       |SELECT rank, bigram, tf, df FROM (
       |  SELECT *, row_number() OVER (ORDER BY tf DESC, bigram) AS rank FROM c
       |) WHERE rank <= $k""".stripMargin

  /** Per-document n-gram NOVELTY — the marginal-content curve of a
    * growing corpus: for each document, the fraction of its DISTINCT
    * word n-grams that no lower-`doc_id` document contains (the
    * dedup-aware "how much new text does this doc actually add"
    * accounting that decides whether continued crawling is worth the
    * tokens). A gram's first owner is the minimum doc_id holding it, so
    * novelty is one `min` window over the gram-keyed shuffle — two
    * exchanges total (gram, then doc), never a per-doc-pair compare.
    * The ratio is exact integer ppm (`(novel · 1e6) div grams`) so the
    * hash can't straddle a double ulp. Docs with fewer than `n` words
    * have no grams and are absent, by contract in both engines. */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    val gramExpr = (0 until n).map(j => s"words[i - ${n - 1 - j}]")
      .mkString("concat_ws(' ', ", ", ", ")")
    val grams = withWords(docs)
      .filter(size(col("words")) >= n)
      .select(col("doc_id"), explode_outer(expr(
        s"transform(sequence(${n - 1}, size(words) - 1), i -> $gramExpr)"))
        .as("gram"))
      .filter(col("gram").isNotNull)
      .distinct()
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy("gram")
    grams
      .withColumn("novel",
        (col("doc_id") === min(col("doc_id")).over(byGram)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("novel")).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("(n_novel * 1000000) div n_grams").as("novelty_ppm"))
  }

  /** Oracle for [[ngramNovelty]] (DuckDB arrays are 1-based, so the
    * window is `generate_series(n, len)` with back-references). */
  def ngramNoveltySql(n: Int = 3): String = {
    val gramExpr = (0 until n).map(j => s"words[i - ${n - 1 - j}]")
      .mkString(" || ' ' || ")
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
       |), g0 AS (
       |  SELECT doc_id,
       |         unnest(list_transform(generate_series($n, len(words)),
       |           i -> $gramExpr)) AS gram
       |  FROM w WHERE len(words) >= $n
       |), g AS (
       |  SELECT DISTINCT doc_id, gram FROM g0
       |), f AS (
       |  SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1
       |)
       |SELECT g.doc_id, count(*) AS n_grams,
       |       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_novel,
       |       CAST((sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
       |             * 1000000) // count(*) AS BIGINT) AS novelty_ppm
       |FROM g JOIN f USING (gram)
       |GROUP BY g.doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // DuckDB oracle SQL, generated from the same langWords constants.
  // ------------------------------------------------------------------

  private def inList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString(", ")

  val langIdSql: String = {
    val langs = langWords.map(_._1)
    val scores = langWords.map { case (lang, ws) =>
      s"len(list_filter(words, x -> x IN (${inList(ws)}))) AS score_$lang"
    }.mkString(",\n       ")
    // mirrors the Spark foldRight: first lang whose score >= all later langs
    val cases = langs.zipWithIndex.flatMap { case (lang, i) =>
      val later = langs.drop(i + 1)
      if (later.isEmpty) None
      else Some("WHEN " + later.map(l => s"score_$lang >= score_$l")
        .mkString(" AND ") + s" THEN '$lang'")
    }.mkString("\n            ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |s AS (
       |  SELECT doc_id,
       |       $scores
       |  FROM w
       |)
       |SELECT *, CASE $cases
       |            ELSE '${langs.last}' END AS predicted_lang
       |FROM s""".stripMargin
  }

  /** Quality computation as composable CTEs ending in
    * `q(doc_id, n_chars, n_tokens, uniq_ratio, stop_ratio, quality)` —
    * shared by [[qualitySql]] and the cluster-best oracle
    * ([[Dedup.clusterBestSql]]). */
  private[ops] val qualityCte: String = {
    val all = inList(langWords.flatMap(_._2))
    s"""qw AS (
       |  SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents
       |), qs AS (
       |  SELECT doc_id, n_chars, words, len(words) AS n_tokens,
       |         len(list_filter(words, x -> x IN ($all))) AS stop_hits
       |  FROM qw
       |), q AS (
       |  SELECT doc_id, n_chars, n_tokens,
       |    (CAST(len(list_distinct(words)) AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS uniq_ratio,
       |    (CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS stop_ratio,
       |    (0.4::DOUBLE * (CAST(len(list_distinct(words)) AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |        + 0.3::DOUBLE * (CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |        + 0.3::DOUBLE * least(CAST(n_tokens AS DOUBLE) / CAST(200 AS DOUBLE), CAST(1 AS DOUBLE))) AS quality
       |  FROM qs
       |)""".stripMargin
  }

  val qualitySql: String =
    s"""WITH $qualityCte
       |SELECT doc_id, n_chars, n_tokens, uniq_ratio, stop_ratio, quality
       |FROM q""".stripMargin

  /** Per-source document quota — the domain-cap pass of web-corpus
    * curation: no source may contribute more than `quota` documents, and
    * the ones it keeps are its best by [[qualityScore]] (ties broken by
    * doc_id, so the ranking is a total order and cross-engine
    * deterministic — the quality doubles themselves are proven
    * engine-identical by the `t_quality_score` oracle).
    *
    * One shuffle keyed by source. A pathologically dominant source makes
    * that key hot; AQE's skew split handles moderate skew, and at true
    * 100-TB scale the fix is a pre-filter: compute each source's
    * approximate quality cutoff with a quantile sketch first, drop
    * below-cutoff docs BEFORE the exact per-source window — the window
    * then ranks ~quota docs per source instead of all of them. */
  def domainQuota(docs: DataFrame, quota: Int = 50): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    docs.select(col("doc_id"), col("source"))
      .join(qualityScore(docs).select(col("doc_id"), col("quality")), "doc_id")
      .withColumn("rank_in_source", row_number().over(w).cast("long"))
      .filter(col("rank_in_source") <= quota)
      .select(col("doc_id"), col("source"), col("quality"),
        col("rank_in_source"))
  }

  /** Oracle for [[domainQuota]] — same quality CTE, same total order. */
  def domainQuotaSql(quota: Int = 50): String =
    s"""WITH $qualityCte,
       |ranked AS (
       |  SELECT q.doc_id, d.source, q.quality,
       |         row_number() OVER (PARTITION BY d.source
       |                            ORDER BY q.quality DESC, q.doc_id)
       |           AS rank_in_source
       |  FROM q JOIN documents d USING (doc_id)
       |)
       |SELECT doc_id, source, quality,
       |       CAST(rank_in_source AS BIGINT) AS rank_in_source
       |FROM ranked WHERE rank_in_source <= $quota""".stripMargin

  /** Temperature-weighted source mixing (α = 0.5) — the pretraining
    * rebalancing pass that samples sources with probability ∝ n_s^α, so
    * rare sources are upweighted relative to their raw share. One tiny
    * per-source aggregate (broadcast back), then a deterministic
    * hash-threshold filter per doc — reproducible, repartition-stable,
    * no shuffle of the corpus itself.
    *
    * Cross-engine exactness: α = 0.5 keeps the weight inside `sqrt`
    * (correctly rounded by IEEE in BOTH engines, unlike `pow`), the
    * weight is quantized to integer milliunits, and the keep decision
    * `h < rate·10⁶` is cross-multiplied into exact integer arithmetic —
    * `h · Σq · n_s < T · q_s · 10⁶` — so no double comparison can
    * straddle an engine-rounding boundary. The products run in
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): a BIGINT triple product
    * overflows once a single source passes ~10⁹ docs, which a 100-TB
    * corpus does. Sources whose implied rate exceeds 1 are kept whole
    * (the inequality is then always true). */
  def sourceMixSample(docs: DataFrame,
      targetFrac: Double = 0.4): DataFrame = {
    val dec = "decimal(38,0)"
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
      .withColumn("q_s",
        floor(sqrt(col("n_s").cast("double")) * lit(1000.0) + lit(0.5))
          .cast("long"))
    val tot = counts.agg(sum(col("q_s")).as("q_sum"),
      sum(col("n_s")).as("n_tot"))
    docs.join(broadcast(counts), "source")
      .join(broadcast(tot))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 1000000"))
      .withColumn("t_target",
        floor(col("n_tot").cast("double") * lit(targetFrac)).cast("long"))
      .filter(
        col("h").cast(dec) * col("q_sum").cast(dec) * col("n_s").cast(dec) <
        col("t_target").cast(dec) * col("q_s").cast(dec) *
          lit(1000000L).cast(dec))
      .select(col("doc_id"), col("source"))
  }

  /** Total-variation token drift per source (extension) — "which
    * source's language is most unlike the corpus": TV distance between
    * each source's token distribution and the global one. ENTIRELY
    * exact until one final division: `TV = Σ_w |c_s·N_g − c_g·N_s| /
    * (2·N_s·N_g)` keeps every term in BIGINT (products ≤ N_s·N_g,
    * summed ≤ 2·N_s·N_g ≪ 2⁶³) — the log-free drift measure; KL /
    * perplexity need `ln`, and libm rounding is engine-private. The
    * absent-token mass is folded in ARITHMETICALLY — `Σ_absent c_g·N_s
    * = N_s·(N_g − Σ_present c_g)` — so the plan never builds a
    * source×vocab grid: two aggregate-sized shuffles (global token
    * counts joined to per-source token counts, then per-source sums),
    * at any source cardinality. */
  def tvDrift(docs: DataFrame): DataFrame = {
    val tokens = docs.select(col("source"),
      explode(split(col("text"), " ")).as("word"))
    val global = tokens.groupBy("word").agg(count(lit(1)).as("cg"))
    val bySrc = tokens.groupBy("source", "word")
      .agg(count(lit(1)).as("cs"))
    val srcTot = tokens.groupBy("source").agg(count(lit(1)).as("ns"))
    val gTot = global.agg(sum(col("cg")).as("ng"))
    bySrc.join(global, "word")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(gTot))
      .groupBy(col("source"), col("ns"), col("ng"))
      .agg(sum(abs(col("cs") * col("ng") - col("cg") * col("ns")))
        .as("present"),
        sum(col("cg")).as("cg_present"))
      .select(col("source"), col("ns").as("n_tokens"),
        ((col("present")
          + col("ns") * (col("ng") - col("cg_present"))).cast("double")
          / (lit(2L) * col("ns") * col("ng")).cast("double"))
          .as("tv_drift"))
  }

  /** Oracle for [[tvDrift]] — identical decomposition. */
  val tvDriftSql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS word
      |  FROM documents
      |), g AS (
      |  SELECT word, count(*) AS cg FROM tok GROUP BY 1
      |), s AS (
      |  SELECT source, word, count(*) AS cs FROM tok GROUP BY 1, 2
      |), st AS (
      |  SELECT source, count(*) AS ns FROM tok GROUP BY 1
      |), gt AS (
      |  SELECT CAST(sum(cg) AS BIGINT) AS ng FROM g
      |), agg AS (
      |  SELECT s.source, st.ns, gt.ng,
      |         CAST(sum(abs(s.cs * gt.ng - g.cg * st.ns)) AS BIGINT)
      |           AS present,
      |         CAST(sum(g.cg) AS BIGINT) AS cg_present
      |  FROM s JOIN g USING (word) JOIN st USING (source) CROSS JOIN gt
      |  GROUP BY 1, 2, 3
      |)
      |SELECT source, ns AS n_tokens,
      |       (CAST(present + ns * (ng - cg_present) AS DOUBLE)
      |             / CAST(2 * ns * ng AS DOUBLE)) AS tv_drift
      |FROM agg""".stripMargin

  /** Oracle for [[sourceMixSample]]: identical integer cross-multiplied
    * threshold, identical md5-derived hash. */
  def sourceMixSampleSql(targetFrac: Double = 0.4): String =
    s"""WITH c AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_s,
       |         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000.0::DOUBLE
       |                    + 0.5::DOUBLE) AS BIGINT) AS q_s
       |  FROM documents GROUP BY 1
       |), t AS (
       |  SELECT CAST(sum(q_s) AS BIGINT) AS q_sum,
       |         CAST(sum(n_s) AS BIGINT) AS n_tot
       |  FROM c
       |)
       |SELECT d.doc_id, d.source
       |FROM documents d JOIN c ON d.source = c.source CROSS JOIN t
       |WHERE ((('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
       |        % 1000000)::HUGEINT) * t.q_sum::HUGEINT * c.n_s::HUGEINT
       |      < CAST(floor(CAST(t.n_tot AS DOUBLE) * $targetFrac::DOUBLE)
       |             AS BIGINT)::HUGEINT * c.q_s::HUGEINT * 1000000::HUGEINT""".stripMargin

  /** Sequence-packing parameters: training-sequence token capacity and
    * the deterministic shard count (`doc_id % packShards`). Shared with
    * the oracle so the two greedy replays can never drift. */
  val packCapacity: Int = 512
  val packShards: Int = 8

  /** Sequence packing — the pre-training step that concatenates
    * documents into fixed-capacity training sequences: greedy
    * first-fit-in-order within deterministic shards (shard =
    * `doc_id % packShards`, docs packed in doc_id order; a doc opens a
    * new sequence when it would overflow `capacity`; token counts are
    * truncated to capacity so every doc fits SOME sequence). One row per
    * packed sequence, with first/last doc ids proving the packing order.
    *
    * Scale posture: packing is inherently sequential WITHIN a shard
    * (order defines the result), so the shard is the parallel unit —
    * `groupByKey(shard).flatMapGroups` holds only (doc_id, tok) pairs
    * (16 bytes/doc), and shard count scales with the corpus (at 10B
    * docs, 100k shards ≈ 100k docs = 1.6 MB per task). One shuffle on
    * the shard key; the token counting stays in the scan projection.
    * flatMapGroups (not an Expression) is the honest tier here — the
    * fold's carry state (used, seq) crosses row boundaries, which no
    * per-row projection can express. The oracle replays the identical
    * greedy fold as a recursive CTE. */
  def packSequences(docs: DataFrame, capacity: Int = packCapacity,
      nShards: Int = packShards): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
        pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
        col("doc_id"),
        least(size(split(col("text"), " ")).cast("long"),
          lit(capacity.toLong)).as("tok"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (shard: Long, it: Iterator[(Long, Long, Long)]) =>
        val ds = it.map { case (_, id, tok) => (id, tok) }.toArray.sortBy(_._1)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Long, Long)]
        var seq = 0L; var used = 0L; var nDocs = 0L
        var first = -1L; var last = -1L
        def close(): Unit =
          if (nDocs > 0) out += ((shard, seq, nDocs, used, first, last))
        ds.foreach { case (id, tok) =>
          if (used + tok > capacity) {
            close(); seq += 1; used = 0L; nDocs = 0L
          }
          if (nDocs == 0) first = id
          used += tok; nDocs += 1; last = id
        }
        close()
        out.iterator
      }
      .toDF("shard", "seq_id", "n_docs", "tokens", "first_doc", "last_doc")
  }

  /** Recursive CTE chain of the [[packSequences]] oracle (the greedy
    * fold stepping rn → rn+1 per shard), parameterized by source
    * relation. Must sit under a `WITH RECURSIVE`. Ends in `r`. */
  private[ops] def packCtesFrom(src: String,
      capacity: Int = packCapacity, nShards: Int = packShards): String =
    s"""d AS (
       |  SELECT doc_id % $nShards AS shard, doc_id,
       |         least(CAST(len(string_split(text, ' ')) AS BIGINT),
       |               $capacity) AS tok,
       |         row_number() OVER (PARTITION BY doc_id % $nShards
       |                            ORDER BY doc_id) AS rn
       |  FROM $src
       |), r AS (
       |  SELECT shard, doc_id, tok, rn, tok AS used, CAST(0 AS BIGINT) AS seq
       |  FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.shard, d.doc_id, d.tok, d.rn,
       |         CASE WHEN r.used + d.tok > $capacity THEN d.tok
       |              ELSE r.used + d.tok END,
       |         CASE WHEN r.used + d.tok > $capacity THEN r.seq + 1
       |              ELSE r.seq END
       |  FROM d JOIN r ON d.shard = r.shard AND d.rn = r.rn + 1
       |)""".stripMargin

  /** Final projection over [[packCtesFrom]]'s `r`. */
  private[ops] val packSelect: String =
    """SELECT shard, seq AS seq_id,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(tok) AS BIGINT) AS tokens,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM r GROUP BY 1, 2""".stripMargin

  /** Oracle for [[packSequences]]: the same greedy fold as a recursive
    * CTE stepping rn → rn+1 per shard (recursion depth = max docs per
    * shard). Sums cast to BIGINT (DuckDB sum is HUGEINT). */
  def packSequencesSql(capacity: Int = packCapacity,
      nShards: Int = packShards): String =
    s"""WITH RECURSIVE ${packCtesFrom("documents", capacity, nShards)}
       |$packSelect""".stripMargin

  /** Distributed BPE tokenizer training (Sennrich et al. 2016,
    * arXiv:1508.07909) — `rounds` merge rules learned from the corpus.
    * The working set is the VOCABULARY (distinct words with counts),
    * not the corpus: one corpus-sized aggregate builds it, then every
    * round is a vocab-sized pair-count aggregate, a 1-row argmax
    * collect (the justified tiny collect of an iterative trainer: one
    * row a round), and a codegen'd `replace`
    * projection applying the merge. That is exactly how production BPE
    * trainers scale: corpus → word counts once, then iterate on the
    * vocab.
    *
    * Symbol sequences are encoded `|s1||s2||…|` — each symbol wrapped
    * in `|` sentinels — so applying merge (x, y) is the plain string
    * `replace(seq, '|x||y|', '|xy|')`: leftmost non-overlapping
    * replacement IS greedy left-to-right BPE merging, and the wrapping
    * prevents false matches across symbol boundaries ("ab|c" never
    * matches "b|c"). Java and DuckDB `replace` agree on those
    * semantics; ties in the pair argmax break on (count desc, x, y) —
    * a total order, so the learned rules are deterministic. Emits one
    * row per learned rule: (round, x, y, merged, cnt). */
  def bpeTrain(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val (learned, _) = bpeTrainLoop(docs, rounds)
    import spark.implicits._
    learned.toDF("round", "x", "y", "merged", "cnt")
  }

  /** The shared Lloyd-style merge loop behind [[bpeTrain]] and
    * [[bpeEncode]]: returns both the learned rules and the final
    * per-word symbol table (token, cnt, seq) — the trained tokenizer
    * state an encoder applies. */
  private def bpeTrainLoop(docs: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    val words = withWords(docs)
      // explode_outer: InferFiltersFromGenerate re-inlining trap (see
      // [[contamination]])
      .select(explode_outer(col("words")).as("token"))
      .filter(col("token").isNotNull && col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    var seqs = words.withColumn("seq",
      concat(lit("|"), array_join(split(col("token"), ""), "||"), lit("|")))
    val learned = scala.collection.mutable.Buffer.empty[(Int, String, String, String, Long)]
    // Graph.connectedComponents release discipline: each round's
    // localCheckpoint supersedes the previous round's — unpersist the
    // stale one immediately or every bpe call leaks (rounds−1)
    // vocab-sized pinned RDD copies per session. The FINAL checkpoint
    // stays: the returned symbol table rests on it.
    var prevCkpt: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      val pairs = seqs
        .withColumn("sym", split(expr("trim(BOTH '|' FROM seq)"), "\\|\\|"))
        .filter(size(col("sym")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(sym) - 1), " +
            "i -> struct(sym[i - 1] AS x, sym[i] AS y))")).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("cnt")).as("c"))
      // an exhausted corpus (empty, or every word fully merged) simply
      // stops producing rules — never an exception
      pairs.orderBy(col("c").desc, col("x"), col("y")).limit(1)
        .collect().headOption match {
        case None => exhausted = true
        case Some(best) =>
          val (x, y, c) =
            (best.getString(0), best.getString(1), best.getLong(2))
          learned += ((r, x, y, x + y, c))
          // vocab-sized table; localCheckpoint truncates the growing
          // replace-chain lineage between rounds (the kmeans discipline)
          seqs = seqs.withColumn("seq",
            expr(s"replace(seq, '|$x||$y|', '|$x$y|')")).localCheckpoint()
          prevCkpt.foreach(_.unpersist(blocking = false))
          prevCkpt = seqs.queryExecution.analyzed.collect {
            case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
          }
      }
    }
    (learned.toSeq, seqs)
  }

  /** Per-(session, corpus-plan, rounds) trained-tokenizer cache — a
    * tokenizer, like any fitted codebook, is trained once and SHIPPED
    * to its consumers (encode/fertility),
    * so re-running the merge loop per consuming query measured only
    * scheduler barriers (3 argmax collects + 3 checkpoints per call).
    * The training digest [[bpeTrain]] deliberately BYPASSES this so its
    * bench floor keeps measuring real training; training is
    * deterministic, so a cache hit changes nothing but wall-clock.
    * Stopped-session entries are evicted on access; the 64-entry cap
    * clears the map rather than pinning unbounded symbol tables. */
  private val bpeCache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, Int),
    (Seq[(Int, String, String, String, Long)], DataFrame)]()

  private def bpeTrainedCached(docs: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    bpeCache.entrySet().removeIf(
      e => e.getValue._2.sparkSession.sparkContext.isStopped)
    if (bpeCache.size >= 64) bpeCache.clear()
    bpeCache.computeIfAbsent(
      (System.identityHashCode(docs.sparkSession),
        docs.queryExecution.analyzed.canonicalized.semanticHash(), rounds),
      _ => bpeTrainLoop(docs, rounds))
  }

  /** Apply the trained BPE merges back to the corpus — the encode half
    * of the tokenizer: per-document word count and post-merge token
    * count (the number every "trained on N tokens" figure actually
    * reports). Shape: the encoder state is the VOCAB-sized symbol table
    * from [[bpeTrainLoop]] (one row per distinct word — broadcastable
    * at any corpus scale since vocab ≪ corpus), joined to the exploded
    * corpus tokens and aggregated per doc. The corpus is touched
    * exactly twice (once to train the vocab, once to encode), never per
    * merge round. */
  def bpeEncode(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val (_, seqs) = bpeTrainedCached(docs, rounds)
    // symbols per word = split of the sentinel-wrapped seq, exactly the
    // parse the trainer's pair counter uses
    val enc = seqs.select(col("token"),
      size(split(expr("trim(BOTH '|' FROM seq)"), "\\|\\|"))
        .cast("long").as("n_sym"))
    val tokens = withWords(docs)
      // explode_outer: InferFiltersFromGenerate re-inlining trap (see
      // [[contamination]])
      .select(col("doc_id"), explode_outer(col("words")).as("token"))
      .filter(col("token").isNotNull && col("token") =!= "")
    tokens.join(enc, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe_tokens"))
  }

  /** The (pairs → argmax → replace) CTE trio per round behind
    * [[bpeTrainSql]] and [[bpeEncodeSql]], from the corpus through
    * `s<rounds>` (token, cnt, seq). `LEFT JOIN … ON true` against the
    * 0-or-1-row argmax keeps `s<r>` populated when a round learns
    * nothing (exhausted corpus) — matching the Spark loop, which stops
    * merging but keeps its symbol table. */
  private def bpeCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"s${r - 1}"
      s"""sym$r AS (
         |  SELECT cnt, string_split(trim(seq, '|'), '||') AS sym FROM $prev
         |), pr$r AS (
         |  SELECT cnt, sym,
         |         unnest(generate_series(1, len(sym) - 1)) AS i
         |  FROM sym$r
         |), best$r AS (
         |  SELECT sym[i] AS x, sym[i + 1] AS y,
         |         CAST(sum(cnt) AS BIGINT) AS c
         |  FROM pr$r GROUP BY 1, 2
         |  ORDER BY c DESC, x, y LIMIT 1
         |), s$r AS (
         |  SELECT token, cnt,
         |         coalesce(replace(seq, '|' || b.x || '||' || b.y || '|',
         |                          '|' || b.x || b.y || '|'), seq) AS seq
         |  FROM $prev LEFT JOIN best$r b ON true
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (
       |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
       |), w AS (
       |  SELECT token, count(*) AS cnt FROM t
       |  WHERE token IS NOT NULL AND token != '' GROUP BY 1
       |), s0 AS (
       |  SELECT token, cnt,
       |         '|' || array_to_string(string_split(token, ''), '||') || '|'
       |           AS seq
       |  FROM w
       |),
       |$roundCtes""".stripMargin
  }

  /** Oracle for [[bpeTrain]]: the merge loop unrolled as one
    * (pairs → argmax → replace) CTE trio per round. */
  def bpeTrainSql(rounds: Int = 3): String = {
    val unions = (1 to rounds)
      .map(r => s"SELECT $r AS round, x, y, x || y AS merged, c AS cnt FROM best$r")
      .mkString("\nUNION ALL\n")
    s"""${bpeCtes(rounds)}
       |$unions""".stripMargin
  }

  /** Oracle for [[bpeEncode]]: the trained symbol table's per-word
    * symbol count joined back to the exploded corpus. */
  def bpeEncodeSql(rounds: Int = 3): String =
    s"""${bpeCtes(rounds)},
       |enc AS (
       |  SELECT token,
       |         CAST(len(string_split(trim(seq, '|'), '||')) AS BIGINT)
       |           AS n_sym
       |  FROM s$rounds
       |), dt AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents
       |)
       |SELECT dt.doc_id, count(*) AS n_words,
       |       CAST(sum(e.n_sym) AS BIGINT) AS n_bpe_tokens
       |FROM dt JOIN enc e USING (token)
       |WHERE dt.token IS NOT NULL AND dt.token != ''
       |GROUP BY 1""".stripMargin

  /** Corpus document-frequency rarity scoring — the CCNet-style quality
    * proxy: how common are a document's tokens across the whole corpus?
    * A doc full of corpus-rare tokens is either high-information or
    * garbage; either way the df profile is the feature every filtering
    * recipe starts from.
    *
    * Shape: one vocab-keyed aggregate builds the df table (vocab ≪
    * corpus), one token-keyed join scores occurrences, one doc-keyed
    * final aggregate. Heavy-hitter tokens ("the") skew the join key,
    * but the df side is ONE row per token so AQE's skew split handles
    * the probe side; at true corpus scale you'd broadcast the df table
    * for the top-1M vocab and shuffle only the long tail. All measures
    * are exact BIGINTs; `mean_df` is a round-6 ratio of two exact longs
    * (the [[tokenStats]] ttr discipline). */
  def dfRarity(docs: DataFrame, rareDf: Long = 2): DataFrame = {
    val tokens = withWords(docs)
      // explode_outer: InferFiltersFromGenerate re-inlining trap (see
      // [[contamination]])
      .select(col("doc_id"), explode_outer(col("words")).as("token"))
      .filter(col("token").isNotNull && col("token") =!= "")
    val dfTab = tokens.groupBy("token")
      .agg(countDistinct(col("doc_id")).as("df"))
    tokens.join(dfTab, "token")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("df")).as("sum_df"),
        sum(when(col("df") <= rareDf, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("mean_df",
        (col("sum_df").cast("double") / col("n_tokens")))
  }

  /** Oracle for [[dfRarity]] — integer sums cast to BIGINT (DuckDB sum
    * is HUGEINT; the q12 lesson). */
  def dfRaritySql(rareDf: Long = 2): String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents
       |), tok AS (
       |  SELECT doc_id, token FROM t
       |  WHERE token IS NOT NULL AND token != ''
       |), d AS (
       |  SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
       |)
       |SELECT tok.doc_id,
       |       count(*) AS n_tokens,
       |       CAST(sum(d.df) AS BIGINT) AS sum_df,
       |       CAST(sum(CASE WHEN d.df <= $rareDf THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_rare,
       |       (CAST(sum(d.df) AS DOUBLE) / count(*)) AS mean_df
       |FROM tok JOIN d USING (token)
       |GROUP BY 1""".stripMargin

  /** TF-IDF top-`k` terms per document (keyword extraction — the
    * per-doc feature a topic router or quality classifier consumes).
    * Ranking uses the raw tf/df ratio, which orders identically to any
    * monotone idf transform for a fixed corpus size while staying free
    * of libm log drift: tf and df are exact BIGINTs, the ratio is the
    * same one IEEE division in both engines, and the token tie-break
    * makes the per-doc order total. Same two-shuffle shape as
    * [[dfRarity]] (vocab-keyed df aggregate, token-keyed join back);
    * the final window partitions by doc_id — per-doc vocabulary sized,
    * embarrassingly parallel at any corpus size. */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    val tokens = withWords(docs)
      // explode_outer: InferFiltersFromGenerate re-inlining trap (see
      // [[contamination]])
      .select(col("doc_id"), explode_outer(col("words")).as("token"))
      .filter(col("token").isNotNull && col("token") =!= "")
    val tf = tokens.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfTab = tokens.groupBy("token")
      .agg(countDistinct(col("doc_id")).as("df"))
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy((col("tf").cast("double") / col("df")).desc, col("token"))
    tf.join(dfTab, "token")
      .withColumn("rank", row_number().over(byScore))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"))
  }

  /** Oracle for [[tfidfTopK]]. */
  def tfidfTopKSql(k: Int = 3): String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents
       |), tok AS (
       |  SELECT doc_id, token FROM t
       |  WHERE token IS NOT NULL AND token != ''
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
       |), d AS (
       |  SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
       |)
       |SELECT doc_id, rank, token, tf, df FROM (
       |  SELECT tf.doc_id, tf.token, tf.tf, d.df,
       |         row_number() OVER (PARTITION BY tf.doc_id
       |           ORDER BY CAST(tf.tf AS DOUBLE) / d.df DESC, tf.token)
       |           AS rank
       |  FROM tf JOIN d USING (token)
       |) WHERE rank <= $k""".stripMargin

  /** Cross-document exact segment dedup — the substring-level dedup of
    * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499), discretized to fixed non-overlapping
    * `segWords`-token segments (the last segment of a doc may be
    * shorter). A segment occurrence survives iff it is the corpus-wide
    * FIRST occurrence of its text — ordered by (doc_id, seg_pos) — so
    * exactly one copy of every repeated span remains and the output is
    * reproducible under any physical row order.
    *
    * Shape: segments are built INSIDE an array expression (one
    * `transform`/`slice` pass over the words array, no explode until
    * the segment rows are needed), the first-occurrence table is one
    * aggregate keyed by the md5 of the segment (16-byte shuffle keys,
    * never the raw text), the keep test is a join back on that digest,
    * and reassembly is a doc-keyed `array_sort`+`array_join`. Same
    * two-shuffle shape as [[Dedup.exactDedup]], so it survives a 100-TB
    * corpus: no window over the corpus, no driver involvement. */
  def segmentDedup(docs: DataFrame, segWords: Int = 8): DataFrame = {
    val segs = withWords(docs).select(col("doc_id"),
      posexplode_outer(expr(
        s"transform(sequence(0, (size(words) - 1) div $segWords), " +
          s"i -> concat_ws(' ', slice(words, i * $segWords + 1, $segWords)))"))
        .as(Seq("seg_pos", "seg_text")))
      .withColumn("seg_key", md5(col("seg_text")))
    val first = segs.groupBy("seg_key")
      .agg(min(struct(col("doc_id"), col("seg_pos"))).as("keeper"))
    segs.join(first, "seg_key")
      .withColumn("kept",
        col("doc_id") === col("keeper.doc_id") &&
          col("seg_pos") === col("keeper.seg_pos"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(struct(col("seg_pos"),
                when(col("kept"), col("seg_text")).as("s")))),
              x => x.getField("s").isNotNull),
            x => x.getField("s")),
          " ").as("clean_text"))
  }

  /** CTE chain of the [[segmentDedup]] oracle, parameterized by source
    * relation. Ends in `f` (one row per segment
    * occurrence with its first-occurrence rank). */
  private[ops] def segmentCtesFrom(src: String, segWords: Int = 8): String =
    s"""${segsCtesFrom(src, segWords)}, f AS (
       |  SELECT doc_id, seg_pos, seg_text,
       |         row_number() OVER (PARTITION BY md5(seg_text)
       |                            ORDER BY doc_id, seg_pos) AS rn
       |  FROM segs
       |)""".stripMargin

  /** The segmentation prefix of [[segmentCtesFrom]] alone (ends in
    * `segs`: one row per fixed-width word segment), shared with
    * [[boilerplateStripSql]]. */
  private[ops] def segsCtesFrom(src: String, segWords: Int = 8): String =
    s"""w AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM $src
       |), s AS (
       |  SELECT doc_id, words,
       |         unnest(generate_series(0, (len(words) - 1) // $segWords))
       |           AS seg_pos
       |  FROM w
       |), segs AS (
       |  SELECT doc_id, seg_pos,
       |         array_to_string(words[seg_pos * $segWords + 1 :
       |                               seg_pos * $segWords + $segWords],
       |                         ' ') AS seg_text
       |  FROM s
       |)""".stripMargin

  /** Oracle for [[segmentDedup]]: same md5-keyed first-occurrence rule
    * via a row_number window; `string_agg` skips the NULLed dropped
    * segments and `coalesce` restores the fully-deduped-doc case to the
    * empty string Spark's `array_join` produces. */
  def segmentDedupSql(segWords: Int = 8): String =
    s"""WITH ${segmentCtesFrom("documents", segWords)}
       |SELECT doc_id,
       |       count(*) AS n_segs,
       |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_kept,
       |       coalesce(string_agg(CASE WHEN rn = 1 THEN seg_text END,
       |                           ' ' ORDER BY seg_pos), '') AS clean_text
       |FROM f GROUP BY 1""".stripMargin

  /** Cross-document boilerplate removal — the C4-style filter that
    * drops text blocks repeated across the corpus (headers, footers,
    * license banners, navigation chrome). A segment occurring in ≥
    * `minDf` DISTINCT documents is boilerplate; every occurrence is
    * dropped and the survivors are reassembled in order. Complements
    * [[segmentDedup]] (which keeps the FIRST occurrence — here nobody
    * keeps a boilerplate block).
    *
    * Shape: same two-shuffle plan as [[segmentDedup]] — segment rows
    * from one array expression, one `countDistinct` aggregate keyed by
    * the 16-byte segment digest, a join back, a doc-keyed reassembly.
    * The document-frequency table is small (distinct segments with
    * df ≥ threshold), so at scale the join-back side broadcasts. */
  def boilerplateStrip(docs: DataFrame, segWords: Int = 8,
      minDf: Int = 3): DataFrame = {
    val segs = withWords(docs).select(col("doc_id"),
      posexplode_outer(expr(
        s"transform(sequence(0, (size(words) - 1) div $segWords), " +
          s"i -> concat_ws(' ', slice(words, i * $segWords + 1, $segWords)))"))
        .as(Seq("seg_pos", "seg_text")))
      .withColumn("seg_key", md5(col("seg_text")))
    val df = segs.groupBy("seg_key")
      .agg(countDistinct(col("doc_id")).as("seg_df"))
    segs.join(df, "seg_key")
      .withColumn("kept", col("seg_df") < minDf)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_boiler"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(struct(col("seg_pos"),
                when(col("kept"), col("seg_text")).as("s")))),
              x => x.getField("s").isNotNull),
            x => x.getField("s")),
          " ").as("clean_text"))
  }

  /** Oracle for [[boilerplateStrip]]: the shared segmentation CTEs plus
    * a document-frequency join. */
  def boilerplateStripSql(segWords: Int = 8, minDf: Int = 3): String =
    s"""WITH ${segsCtesFrom("documents", segWords)}, d AS (
       |  SELECT md5(seg_text) AS seg_key,
       |         count(DISTINCT doc_id) AS seg_df
       |  FROM segs GROUP BY 1
       |)
       |SELECT doc_id,
       |       count(*) AS n_segs,
       |       CAST(sum(CASE WHEN seg_df < $minDf THEN 0 ELSE 1 END)
       |            AS BIGINT) AS n_boiler,
       |       coalesce(string_agg(CASE WHEN seg_df < $minDf THEN seg_text END,
       |                           ' ' ORDER BY seg_pos), '') AS clean_text
       |FROM segs JOIN d ON md5(segs.seg_text) = d.seg_key
       |GROUP BY 1""".stripMargin

  /** Code-vs-prose detection — the pretraining corpus router: symbol
    * and digit densities from character-class strips (Spark's
    * `regexp_replace` is global by default; DuckDB needs the explicit
    * `'g'` flag — a classic cross-engine trap), ratios as one exact
    * division each, and the routing flag as a PURE INTEGER comparison
    * (`10·symbols > chars` ⟺ density > 10%) that can never diverge. */
  def codeDetect(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        // longs, not Spark's int `length`: DuckDB lengths are BIGINT
        // and the driver compares schemas
        length(col("text")).cast("long").as("len"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", "")))
          .cast("long").as("n_sym"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", "")))
          .cast("long").as("n_digit"))
      .select(col("doc_id"), col("n_sym"), col("n_digit"),
        expr("CASE WHEN len = 0 THEN NULL ELSE " +
          "CAST(n_sym AS DOUBLE) / CAST(len AS DOUBLE) END AS sym_ratio"),
        expr("CASE WHEN len = 0 THEN NULL ELSE " +
          "CAST(n_digit AS DOUBLE) / CAST(len AS DOUBLE) END AS digit_ratio"),
        expr("(n_sym * 10 > len) AS is_code"))

  /** Oracle for [[codeDetect]]. */
  val codeDetectSql: String =
    """SELECT doc_id, n_sym, n_digit,
      |       CASE WHEN len = 0 THEN NULL ELSE
      |         CAST(n_sym AS DOUBLE) / CAST(len AS DOUBLE) END AS sym_ratio,
      |       CASE WHEN len = 0 THEN NULL ELSE
      |         CAST(n_digit AS DOUBLE) / CAST(len AS DOUBLE)
      |       END AS digit_ratio,
      |       (n_sym * 10 > len) AS is_code
      |FROM (
      |  SELECT doc_id, length(text) AS len,
      |         length(text) -
      |           length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
      |           AS n_sym,
      |         length(text) -
      |           length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
      |  FROM documents)""".stripMargin

  // ------------------------------------------------------------------
  // Winnowing fingerprints + n-gram LM coverage
  // ------------------------------------------------------------------

  /** Winnowing (the MOSS fingerprint-selection algorithm, Schleimer et
    * al. SIGMOD'03): hash every k-word shingle, then keep the MINIMUM
    * hash of each window of `w` consecutive shingles — a position-robust
    * fingerprint index that any two documents sharing a run of ≥ k+w−1
    * words are GUARANTEED to overlap on. Output is the distinct
    * (doc_id, fingerprint) index you'd join against for plagiarism /
    * overlap detection.
    *
    * Shape: shingle hashes are built in ONE `transform` array expression
    * per doc (no explode until the rows are needed — [[segmentDedup]]
    * discipline), then a doc-keyed min window over positions. The only
    * shuffle is the per-doc window (and docs are independent, so it
    * partitions perfectly at any corpus size). The hash is the engine's
    * cross-engine 32-bit md5 prefix ([[fingerprint]]). */
  def winnow(docs: DataFrame, k: Int = 4, w: Int = 4): DataFrame = {
    val shingle = (0 until k).map(j => s"words[i + $j]").mkString(", ")
    val hashes =
      s"""transform(sequence(0, size(words) - $k),
         |  i -> CAST(conv(substring(md5(concat_ws(' ', $shingle)), 1, 8),
         |            16, 10) AS BIGINT))""".stripMargin
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(w - 1), org.apache.spark.sql.expressions.Window.currentRow)
    withWords(docs)
      .filter(size(col("words")) >= k)
      .select(col("doc_id"), posexplode(expr(hashes)).as(Seq("pos", "h")))
      .withColumn("fp", min(col("h")).over(byPos))
      .filter(col("pos") >= w - 1)
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** Oracle for [[winnow]]: DuckDB builds the same shingle hashes
    * (1-based list indexing, so positions shift by one) and takes the
    * same framed min. */
  def winnowSql(k: Int = 4, w: Int = 4): String = {
    val shingle = (0 until k).map {
      case 0 => "words[i]"
      case j => s"words[i + $j]"
    }.mkString(" || ' ' || ")
    s"""WITH wd AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
       |), g AS (
       |  SELECT doc_id,
       |         unnest(generate_series(1, len(words) - ${k - 1})) AS pos,
       |         unnest(list_transform(generate_series(1, len(words) - ${k - 1}),
       |           i -> ('0x' || substr(md5($shingle), 1, 8))::BIGINT)) AS h
       |  FROM wd WHERE len(words) >= $k
       |)
       |SELECT DISTINCT doc_id,
       |       min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                    ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW)
       |         AS fp
       |FROM g
       |QUALIFY pos >= $w""".stripMargin
  }

  /** Substring-level near-duplicate pairs: documents sharing at least
    * `minShared` winnowed fingerprints ([[winnow]]) — the copy-paste /
    * quotation contamination detector that document-level MinHash misses
    * (a page that EMBEDS a paragraph of another page is far below any
    * whole-doc Jaccard threshold but lights up here). Winnowing's
    * guarantee makes the fingerprint set a sound substring witness: any
    * shared run of ≥ w+k−1 words shares at least one fingerprint.
    *
    * Scale shape: an inverted-index postings self-join keyed on the
    * fingerprint (the [[graft.ops.Dedup.ngramJaccard]] discipline —
    * never doc × doc), with a document-frequency guard: a fingerprint present in
    * more than `maxDf` docs is boilerplate (navigation chrome, license
    * headers) whose postings list would blow up quadratically; dropping
    * it is both the performance bound — pair production is capped at
    * Σ min(df, maxDf)² per fingerprint — and the semantically right
    * call, exactly the IDF argument. */
  def substringDup(docs: DataFrame, minShared: Int = 8,
      maxDf: Int = 50, k: Int = 4, w: Int = 4): DataFrame = {
    val fps = winnow(docs, k, w)
    val live = fps.groupBy("fp").agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") <= maxDf)
      .select("fp")
    val posted = fps.join(live, "fp")
    posted.select(col("fp"), col("doc_id").as("doc_a"))
      .join(posted.select(col("fp"), col("doc_id").as("doc_b")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Oracle for [[substringDup]] — the [[winnowSql]] statement nested as
    * a CTE, same df guard and pair count. */
  def substringDupSql(minShared: Int = 8, maxDf: Int = 50,
      k: Int = 4, w: Int = 4): String =
    s"""WITH fps AS (
       |${winnowSql(k, w)}
       |), live AS (
       |  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= $maxDf
       |), posted AS (
       |  SELECT f.fp, f.doc_id FROM fps f JOIN live USING (fp)
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(count(*) AS BIGINT) AS n_shared
       |FROM posted a JOIN posted b USING (fp)
       |WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING count(*) >= $minShared""".stripMargin

  /** N-gram LM coverage scoring — the cheap KenLM stand-in of corpus
    * quality pipelines: what fraction of a document's word bigrams
    * appear in the corpus's top-`k` bigram vocabulary
    * ([[bigramTopK]])? Low coverage flags out-of-domain or degenerate
    * text. The score is an exact count ratio (ONE double division), so
    * it is engine-identical without any float accumulation.
    *
    * Shape: the vocabulary is a top-k aggregate (tiny by construction)
    * broadcast to a left join against the exploded bigram stream; the
    * per-doc reduce is one partial+final count aggregate. Documents
    * with fewer than two words have no bigrams and are excluded (the
    * score is undefined). */
  def lmCoverage(docs: DataFrame, k: Int = 100): DataFrame = {
    val vocab = bigramTopK(docs, k).select(col("bigram"), lit(1L).as("hit"))
    withWords(docs)
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(words) - 1), " +
          "i -> concat_ws(' ', words[i - 1], words[i]))")).as("bigram"))
      .join(broadcast(vocab), Seq("bigram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("doc_id"), col("n_bigrams"), col("n_hits"),
        expr("(CAST(n_hits AS DOUBLE) / CAST(n_bigrams AS DOUBLE))" +
          " AS coverage"))
  }

  /** Oracle for [[lmCoverage]]: reuses the [[bigramTopKSql]] CTE chain
    * as the vocabulary. */
  def lmCoverageSql(k: Int = 100): String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
       |), b AS (
       |  SELECT doc_id,
       |         unnest(list_transform(generate_series(2, len(words)),
       |           i -> words[i - 1] || ' ' || words[i])) AS bigram
       |  FROM w WHERE len(words) >= 2
       |), c AS (
       |  SELECT bigram, count(*) AS tf FROM b GROUP BY 1
       |), v AS (
       |  SELECT bigram, 1 AS hit FROM (
       |    SELECT bigram, row_number() OVER (ORDER BY tf DESC, bigram) AS rank
       |    FROM c) WHERE rank <= $k
       |)
       |SELECT b.doc_id,
       |       count(*) AS n_bigrams,
       |       CAST(sum(coalesce(v.hit, 0)) AS BIGINT) AS n_hits,
       |       (CAST(CAST(sum(coalesce(v.hit, 0)) AS BIGINT) AS DOUBLE)
       |             / CAST(count(*) AS DOUBLE)) AS coverage
       |FROM b LEFT JOIN v USING (bigram)
       |GROUP BY 1""".stripMargin

  /** F15 (extension) — the hashing trick: project an unbounded token
    * vocabulary into `nBuckets` fixed feature slots via the same
    * portable md5-prefix hash the dedup tier uses
    * ([[Dedup.wordHash]] — engine-reproducible where xxhash/murmur
    * seeds are engine-private). Emits the SPARSE (doc, bucket, tf)
    * form — the only representation that scales: a dense vector
    * column is a constant-factor rewrite downstream, but a dense
    * PIVOT here would shuffle nBuckets columns of mostly zeros.
    * Raw token counts (no distinct): term frequency is the feature.
    * One explode + one (doc, bucket) aggregate, map-side combined. */
  /** DSIR-style importance weights for data selection (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every document by how target-like its hashed-feature profile
    * is, so a 100-TB raw corpus can be resampled toward a target domain
    * with one weighted pass. The feature space is the same hashed word
    * buckets as [[featureHash]]; the target distribution is the corpus
    * slice `lang = targetLang`.
    *
    * Determinism discipline: DSIR's log-likelihood ratio needs `ln` —
    * libm-private rounding, the [[TradeOps.chisqHourly]] lesson — so the
    * weight stays in correctly-rounded IEEE ops only: per-bucket ratio
    * `r_b = (tgt_b + 1) / (raw_b + 1)` (add-one smoothing; one double
    * divide), per-doc term `tf_b · r_b` (one multiply), and the per-doc
    * sum is a FIXED-ORDER fold over buckets (sorted `aggregate` here,
    * `list_reduce(list(... ORDER BY bucket))` in the oracle) because a
    * parallel double `sum()` reassociates. Monotone in the same doc
    * ranking as the log form for selection-by-threshold purposes.
    *
    * Scale shape: the ratio table is `nBuckets` rows — broadcast —, the
    * per-doc fold is over ≤ nBuckets terms, and everything else is the
    * one exploded-words shuffle [[featureHash]] already pays. */
  def importanceWeights(docs: DataFrame, targetLang: String = "en",
      nBuckets: Int = 32): DataFrame = {
    val tf = docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("word"))
      .withColumn("bucket", pmod(expr(Dedup.wordHash), lit(nBuckets.toLong)))
      .groupBy("doc_id", "lang", "bucket")
      .agg(count(lit(1)).as("tf"))
    val raw = tf.groupBy("bucket").agg(sum(col("tf")).as("raw_c"))
    val tgt = tf.filter(col("lang") === targetLang)
      .groupBy("bucket").agg(sum(col("tf")).as("tgt_c"))
    val ratios = raw.join(tgt, Seq("bucket"), "left")
      .select(col("bucket"),
        ((coalesce(col("tgt_c"), lit(0L)) + lit(1L)).cast("double")
          / (col("raw_c") + lit(1L)).cast("double")).as("r"))
    tf.join(broadcast(ratios), "bucket")
      .withColumn("term", col("tf").cast("double") * col("r"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        expr("""(aggregate(sort_array(collect_list(struct(bucket, term))),
                CAST(0 AS DOUBLE), (acc, x) -> acc + x.term))""")
          .as("weight"))
  }

  /** Oracle for [[importanceWeights]] — identical hash, smoothing, and
    * fold order in DuckDB. */
  def importanceWeightsSql(targetLang: String = "en",
      nBuckets: Int = 32): String =
    s"""WITH words AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, lang,
       |         ('0x' || substr(md5(word), 1, 8))::BIGINT % $nBuckets AS bucket,
       |         count(*) AS tf
       |  FROM words GROUP BY 1, 2, 3
       |), raw AS (
       |  SELECT bucket, CAST(sum(tf) AS BIGINT) AS raw_c FROM tf GROUP BY 1
       |), tgt AS (
       |  SELECT bucket, CAST(sum(tf) AS BIGINT) AS tgt_c
       |  FROM tf WHERE lang = '$targetLang' GROUP BY 1
       |), r AS (
       |  SELECT raw.bucket,
       |         CAST(coalesce(tgt.tgt_c, 0) + 1 AS DOUBLE)
       |           / CAST(raw.raw_c + 1 AS DOUBLE) AS r
       |  FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket
       |), terms AS (
       |  SELECT tf.doc_id, tf.bucket, CAST(tf.tf AS DOUBLE) * r.r AS term
       |  FROM tf JOIN r ON tf.bucket = r.bucket
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |       (list_reduce(list(term ORDER BY bucket),
       |             (acc, x) -> acc + x)) AS weight
       |FROM terms
       |GROUP BY 1""".stripMargin

  def featureHash(docs: DataFrame, nBuckets: Int = 32): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .withColumn("bucket", pmod(expr(Dedup.wordHash), lit(nBuckets.toLong)))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("tf"))

  /** Oracle for [[featureHash]] — same hash arithmetic in DuckDB. */
  def featureHashSql(nBuckets: Int = 32): String =
    s"""WITH words AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents
       |)
       |SELECT doc_id,
       |       ('0x' || substr(md5(word), 1, 8))::BIGINT % $nBuckets AS bucket,
       |       count(*) AS tf
       |FROM words
       |GROUP BY 1, 2""".stripMargin

  /** Per-source character-class census — alpha/digit/space/other
    * composition in exact ppm, the fingerprint that separates prose
    * from tables, code, and OCR noise at a glance (a source whose
    * digit share doubles between snapshots changed its content type,
    * whatever its quality score says). Class counts come from
    * `length(regexp_replace(text, '[^…]', ''))` — the same character
    * classes in both engines' regex dialects (DuckDB needs the 'g'
    * flag for global replace; Spark is global by default) — summed as
    * exact BIGINTs, with `other` derived by subtraction so the four
    * shares partition every character. */
  def charClassProfile(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        length(col("text")).cast("long").as("tot"),
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long")
          .as("al"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long")
          .as("dg"),
        length(regexp_replace(col("text"), "[^ ]", "")).cast("long")
          .as("sp"))
      .groupBy("source")
      .agg(sum(col("tot")).as("total_chars"), sum(col("al")).as("s_al"),
        sum(col("dg")).as("s_dg"), sum(col("sp")).as("s_sp"))
      .select(col("source"), col("total_chars"),
        expr("(s_al * 1000000) div total_chars").as("alpha_ppm"),
        expr("(s_dg * 1000000) div total_chars").as("digit_ppm"),
        expr("(s_sp * 1000000) div total_chars").as("space_ppm"),
        expr("((total_chars - s_al - s_dg - s_sp) * 1000000) div total_chars")
          .as("other_ppm"))

  /** Oracle for [[charClassProfile]]. */
  val charClassProfileSql: String =
    """WITH c AS (
      |  SELECT source,
      |         CAST(length(text) AS BIGINT) AS tot,
      |         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
      |           AS BIGINT) AS al,
      |         CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
      |           AS BIGINT) AS dg,
      |         CAST(length(regexp_replace(text, '[^ ]', '', 'g'))
      |           AS BIGINT) AS sp
      |  FROM documents
      |)
      |SELECT source, CAST(sum(tot) AS BIGINT) AS total_chars,
      |       (CAST(sum(al) AS BIGINT) * 1000000)
      |         // CAST(sum(tot) AS BIGINT) AS alpha_ppm,
      |       (CAST(sum(dg) AS BIGINT) * 1000000)
      |         // CAST(sum(tot) AS BIGINT) AS digit_ppm,
      |       (CAST(sum(sp) AS BIGINT) * 1000000)
      |         // CAST(sum(tot) AS BIGINT) AS space_ppm,
      |       ((CAST(sum(tot) AS BIGINT) - CAST(sum(al) AS BIGINT)
      |          - CAST(sum(dg) AS BIGINT) - CAST(sum(sp) AS BIGINT))
      |          * 1000000) // CAST(sum(tot) AS BIGINT) AS other_ppm
      |FROM c GROUP BY 1""".stripMargin

  /** Per-source token-length 3σ outlier profile — the corpus-anomaly
    * gate that flags truncated shards and concatenation bugs (a source
    * whose length distribution suddenly grows a tail is an ingest
    * regression, not content). ENTIRELY integer: the z-test
    * `|x − μ| > 3σ` is algebraically `(n·x − Σx)² > 9·(n·Σx² − (Σx)²)`
    * — both sides exact BIGINTs (range-checked: n·x ≤ 5·10⁸ at sf1
    * squares to 2.5·10¹⁷; 9·n·Σx² ≈ 2·10¹⁸ — inside BIGINT), so there
    * is no sqrt, no division, and no float anywhere to round
    * differently across engines. One groupBy for the moments
    * (≤|sources| rows, broadcast back), one codegen'd flag scan. */
  def lengthOutliers(docs: DataFrame): DataFrame = {
    val base = docs.select(col("source"),
      size(split(col("text"), " ")).cast("long").as("x"))
    val mom = base.groupBy("source").agg(count(lit(1)).as("n"),
        sum(col("x")).as("s1"), sum(col("x") * col("x")).as("s2"),
        max(col("x")).as("mxx"))
      // Overflow guard (ADVICE r11): the flag algebra squares n·x−s1
      // and scales n·s2 by 9; past the documented range (n·max(x) ≤
      // floor(√Long.Max), 9·n·s2 ≤ Long.Max) Spark's non-ANSI BIGINT
      // wraps silently while DuckDB widens — so assert the bounds on
      // the ≤|sources|-row moment table (from wrap-proof n/max) and
      // FAIL LOUDLY instead of diverging. s1 ≤ n·max(x) is covered by
      // the same bound.
      .filter(expr(
        "assert_true(n <= 3037000499 div greatest(mxx, 1) AND " +
          "n <= (9223372036854775807 div 9) div greatest(s2, 1), " +
          "'length_outliers: source too large for exact BIGINT z-test " +
          "algebra — shard the source or widen to DECIMAL(38,0)') " +
          "IS NULL"))
      .drop("mxx")
    base.join(broadcast(mom), "source")
      .withColumn("is_out", expr(
        "CASE WHEN (n * x - s1) * (n * x - s1) > 9 * (n * s2 - s1 * s1) " +
          "THEN 1L ELSE 0L END"))
      .groupBy("source")
      .agg(max(col("n")).as("n_docs"), sum(col("is_out")).as("n_outliers"),
        max(col("x")).as("max_tokens"))
      .withColumn("outlier_ppm", expr("(n_outliers * 1000000) div n_docs"))
  }

  /** Oracle for [[lengthOutliers]]. */
  val lengthOutliersSql: String =
    """WITH t AS (
      |  SELECT source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS x
      |  FROM documents
      |), m AS (
      |  SELECT source, count(*) AS n, CAST(sum(x) AS BIGINT) AS s1,
      |         CAST(sum(x * x) AS BIGINT) AS s2
      |  FROM t GROUP BY 1
      |)
      |SELECT t.source, max(m.n) AS n_docs,
      |       CAST(sum(CASE WHEN (m.n * t.x - m.s1) * (m.n * t.x - m.s1)
      |              > 9 * (m.n * m.s2 - m.s1 * m.s1) THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_outliers,
      |       max(t.x) AS max_tokens,
      |       (CAST(sum(CASE WHEN (m.n * t.x - m.s1) * (m.n * t.x - m.s1)
      |              > 9 * (m.n * m.s2 - m.s1 * m.s1) THEN 1 ELSE 0 END)
      |         AS BIGINT) * 1000000) // max(m.n) AS outlier_ppm
      |FROM t JOIN m USING (source)
      |GROUP BY 1""".stripMargin

  /** T (extension) — integer Flesch-style readability per source: the
    * corpus-quality dial every pretraining mix tunes (too-easy text is
    * boilerplate, too-hard is OCR noise). ENTIRELY integer and
    * engine-exact: words by the corpus split convention, sentences as
    * `max(1, #[.!?])` via `translate`-and-length (no regex needed),
    * syllables proxied by VOWEL GROUPS — each maximal `[aeiou]+` run
    * collapsed to one char by global regexp_replace, counted as a
    * length difference (the linguistics-standard approximation; exact
    * run count, no float). The Flesch formula's constants are scaled
    * to micro and applied by floor division:
    * `206.835 − 1.015·w/s − 84.6·v/w` becomes
    * `206835000 − 1015·wps_ppm÷1000 − 84600·spw_ppm÷1000`. Corpus-sum
    * ratios per source (not per-doc means — the standard corpus-level
    * form); one map-side-combined groupBy, ≤|sources| rows out. */
  def readability(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", size(split(col("text"), " ")).cast("long"))
      .withColumn("s", expr(
        "greatest(CAST(length(text) - length(translate(text, '.!?', '')) " +
          "AS BIGINT), 1L)"))
      .withColumn("lo", lower(col("text")))
      .withColumn("vg", expr(
        "CAST(length(regexp_replace(lo, '[aeiou]+', '#')) " +
          "- length(regexp_replace(lo, '[aeiou]+', '')) AS BIGINT)"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sum_words"),
        sum(col("s")).as("sum_sents"), sum(col("vg")).as("sum_vgroups"))
      .withColumn("wps_ppm", expr("(sum_words * 1000000) div sum_sents"))
      .withColumn("spw_ppm", expr("(sum_vgroups * 1000000) div sum_words"))
      .withColumn("flesch_micro", expr(
        "206835000 - (1015 * wps_ppm) div 1000 - (84600 * spw_ppm) div 1000"))

  /** Oracle for [[readability]] — identical counting and micro
    * algebra; DuckDB's regexp_replace needs the explicit 'g' flag to
    * match Spark's replace-all default. */
  val readabilitySql: String =
    """WITH d AS (
      |  SELECT source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
      |         greatest(CAST(length(text)
      |           - length(translate(text, '.!?', '')) AS BIGINT), 1) AS s,
      |         CAST(length(regexp_replace(lower(text), '[aeiou]+', '#', 'g'))
      |           - length(regexp_replace(lower(text), '[aeiou]+', '', 'g'))
      |           AS BIGINT) AS vg
      |  FROM documents
      |), a AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST(sum(w) AS BIGINT) AS sum_words,
      |         CAST(sum(s) AS BIGINT) AS sum_sents,
      |         CAST(sum(vg) AS BIGINT) AS sum_vgroups
      |  FROM d GROUP BY 1
      |)
      |SELECT source, n_docs, sum_words, sum_sents, sum_vgroups,
      |       (sum_words * 1000000) // sum_sents AS wps_ppm,
      |       (sum_vgroups * 1000000) // sum_words AS spw_ppm,
      |       206835000 - (1015 * ((sum_words * 1000000) // sum_sents)) // 1000
      |         - (84600 * ((sum_vgroups * 1000000) // sum_words)) // 1000
      |         AS flesch_micro
      |FROM a""".stripMargin

  /** T (extension) — Heaps'-law vocabulary growth curve: cumulative
    * distinct-word count at `buckets` corpus checkpoints — the
    * tokenizer-budget planning curve ("how fast does vocab grow as we
    * add data, and is it flattening?") every BPE training run reads
    * before picking a vocab size. ENTIRELY integer: each word's FIRST
    * document (`min(doc_id)` over the exploded distinct words — one
    * word-keyed map-side-combined shuffle, the
    * [[graft.ops.Dedup.minhashSig]] explode shape), bucketed by the
    * sequential doc_id contract (`(first_doc · buckets) div n_docs` —
    * count-derived, no global sort, no ntile reducer), then two
    * `buckets`-row cumulative sums. The heavy stage is ONE shuffle of
    * (word, doc_id) pairs; everything after is broadcast-sized at any
    * corpus scale. The ordering-free window runs on `buckets` rows
    * only. */
  def heapsLaw(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val tot = docs.agg(count(lit(1)).as("n_docs"))
    val firsts = docs
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("word"))
      .groupBy("word").agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(tot))
      .withColumn("bucket", expr(s"(first_doc * $buckets) div n_docs"))
      .groupBy("bucket").agg(count(lit(1)).as("new_words"))
    val perBucket = docs.crossJoin(broadcast(tot))
      .withColumn("bucket", expr(s"(doc_id * $buckets) div n_docs"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs_b"))
    val cum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(firsts, Seq("bucket"), "left_outer")
      .na.fill(0L, Seq("new_words"))
      .withColumn("docs_so_far", sum(col("n_docs_b")).over(cum))
      .withColumn("vocab_so_far", sum(col("new_words")).over(cum))
      .select(col("bucket"), col("n_docs_b"), col("docs_so_far"),
        col("new_words"), col("vocab_so_far"))
  }

  /** Oracle for [[heapsLaw]] — identical bucket arithmetic and
    * cumulative frames. */
  def heapsLawSql(buckets: Int = 10): String =
    s"""WITH tot AS (SELECT count(*) AS n_docs FROM documents),
       |f AS (
       |  -- one row per WORD: the bucket of its first document
       |  SELECT (min(doc_id) * $buckets) // n_docs AS bucket
       |  FROM (SELECT doc_id,
       |          unnest(list_distinct(string_split(text, ' '))) AS word
       |        FROM documents), tot
       |  GROUP BY word, n_docs
       |), fb AS (
       |  SELECT bucket, count(*) AS new_words FROM f GROUP BY 1
       |), db AS (
       |  SELECT (doc_id * $buckets) // n_docs AS bucket,
       |         count(*) AS n_docs_b
       |  FROM documents, tot GROUP BY 1
       |)
       |SELECT db.bucket, db.n_docs_b,
       |       CAST(sum(db.n_docs_b) OVER (ORDER BY db.bucket) AS BIGINT)
       |         AS docs_so_far,
       |       COALESCE(fb.new_words, 0) AS new_words,
       |       CAST(sum(COALESCE(fb.new_words, 0)) OVER (ORDER BY db.bucket)
       |         AS BIGINT) AS vocab_so_far
       |FROM db LEFT JOIN fb ON db.bucket = fb.bucket""".stripMargin
  /** T (extension) — pairwise source vocabulary overlap: the exact
    * Jaccard of DISTINCT word sets between every pair of corpus
    * sources, in floored ppm — the cross-source contamination/drift
    * screen next to [[tvDrift]]'s frequency distance (TV sees SHAPE
    * shift; this sees exposure: how much of source B's vocabulary A
    * already covers). ENTIRELY integer: one distinct (source, word)
    * projection, a word-keyed self-join whose fan-out is bounded by
    * |sources|² per word (sources are few; the join never touches doc
    * cardinality), and the |A∩B| / (|A|+|B|−|A∩B|) algebra in exact
    * ppm. Pairs with zero shared vocabulary do not emit (inner join;
    * documented). */
  def vocabOverlap(docs: DataFrame): DataFrame = {
    // single corpus pass: per-word source SETS, then one explode emits
    // both the ordered pairs (intersections) and a null-marked single
    // per member (vocabulary sizes) — the corpus-scale subtree has ONE
    // consumer; a self-join formulation would recompute it per side.
    // The lambda work is per WORD over ≤|sources| elements, never per
    // document.
    val byWord = docs
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .distinct()
      .groupBy("word").agg(collect_set(col("source")).as("ss"))
    val counts = byWord
      .select(explode(expr(
        "flatten(transform(ss, a -> concat(" +
          "transform(filter(ss, b -> a < b), " +
          "b -> named_struct('sa', a, 'sb', b)), " +
          "array(named_struct('sa', a, 'sb', CAST(NULL AS STRING))))))"))
        .as("p"))
      .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
      .agg(count(lit(1)).as("c"))
      // ≤ |sources|² + |sources| rows — the bounded driver finish (the
      // graph-tier pattern): one collect, then pure-integer assembly,
      // so the corpus pipeline runs exactly ONCE (three lazy consumers
      // would re-scan the corpus per branch)
      .collect()
    val sizes = counts.filter(_.isNullAt(1))
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val out = counts.filter(!_.isNullAt(1)).toSeq.map { r =>
      val (a, b, i) = (r.getString(0), r.getString(1), r.getLong(2))
      (a, b, sizes(a), sizes(b), i,
        i * 1000000L / (sizes(a) + sizes(b) - i))
    }
    val spark = docs.sparkSession
    import spark.implicits._
    out.toDF("source_a", "source_b", "n_a", "n_b", "n_inter",
      "jaccard_ppm")
  }

  /** Oracle for [[vocabOverlap]]. */
  val vocabOverlapSql: String =
    """WITH w AS (
      |  SELECT DISTINCT source, word
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE word <> ''
      |), sz AS (
      |  SELECT source, count(*) AS n FROM w GROUP BY 1
      |), pr AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |         count(*) AS n_inter
      |  FROM w a JOIN w b ON a.word = b.word AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT pr.source_a, pr.source_b,
      |       sa.n AS n_a, sb.n AS n_b, pr.n_inter,
      |       (pr.n_inter * 1000000) // (sa.n + sb.n - pr.n_inter)
      |         AS jaccard_ppm
      |FROM pr
      |JOIN sz sa ON sa.source = pr.source_a
      |JOIN sz sb ON sb.source = pr.source_b""".stripMargin

  /** T (extension, r15) — hapax-legomena profile per language: vocab
    * size, corpus token count, hapax count (words occurring exactly
    * once) and the hapax share of the vocabulary — the
    * vocabulary-health twin of [[heapsLaw]] (Heaps shows how fast
    * vocab GROWS; the hapax ratio shows how much of it is singleton
    * tail — rising hapax share means noisier text, OCR junk, or
    * under-normalization, and it directly sizes the BPE rare-tail).
    * ENTIRELY integer until one final division of exact int64 counts
    * (engine-identical IEEE): one (lang, word) token explode →
    * map-side-combined frequency aggregate (the [[heapsLaw]] shuffle
    * shape, keyed by (lang, word)) → one |langs|-row rollup. Scale:
    * the only heavy stage is the token shuffle, partial-aggregated
    * before the exchange; output is |langs| rows at any corpus
    * size. */
  def hapaxProfile(docs: DataFrame): DataFrame = {
    docs
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_vocab"),
        sum(col("freq")).as("n_tokens"),
        sum(when(col("freq") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("lang"), col("n_vocab"), col("n_tokens"), col("n_hapax"),
        (col("n_hapax").cast("double") / col("n_vocab").cast("double"))
          .as("hapax_ratio"))
  }

  /** Oracle for [[hapaxProfile]]. */
  val hapaxProfileSql: String =
    """SELECT lang, n_vocab, n_tokens, n_hapax,
      |       CAST(n_hapax AS DOUBLE) / CAST(n_vocab AS DOUBLE)
      |         AS hapax_ratio
      |FROM (
      |  SELECT lang, count(*) AS n_vocab,
      |         CAST(sum(freq) AS BIGINT) AS n_tokens,
      |         CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_hapax
      |  FROM (
      |    SELECT lang, word, count(*) AS freq
      |    FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
      |          FROM documents)
      |    GROUP BY 1, 2)
      |  GROUP BY 1
      |)""".stripMargin
}
