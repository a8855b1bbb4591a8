package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns
import graft.operators.{Packing, Sampling}

/** Training-data curation queries beyond the per-row ops in ExtraQueries:
  * sequence packing, corpus vocabulary, split-contamination audit.
  */
object CurationQueries {

  val PackBudget = 500L
  val PackBuckets = 8

  /** q48: token-budget sequence packing — each doc assigned to the pack
    * its first token falls into, within deterministic hash-buckets (see
    * [[Packing]] for the scale rationale).
    */
  def q48TokenPacks(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.tokenCountWs(col("text")).as("n_tokens"))
    Packing.byTokenBudget(d, "doc_id", "n_tokens", PackBudget, PackBuckets)
  }

  def q48Oracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CASE WHEN text IS NULL THEN 0
       |         ELSE CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER) END AS n_tokens,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8) AS BIGINT) % $PackBuckets AS pack_bucket
       |  FROM documents
       |), cum AS (
       |  SELECT doc_id, n_tokens, pack_bucket,
       |    SUM(CAST(n_tokens AS BIGINT)) OVER (PARTITION BY pack_bucket ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
       |  FROM toks
       |)
       |SELECT doc_id, n_tokens, pack_bucket,
       |  CAST((c - n_tokens) // $PackBudget AS BIGINT) AS pack_id
       |FROM cum""".stripMargin

  /** q51: capacity-strict greedy packing — same bucketing and ordering as
    * q48, but a pack closes when the next doc would cross the budget, so no
    * multi-doc pack exceeds it (see [[Packing.byTokenBudgetStrict]]). The
    * oracle replays the sequential close-and-open state with a recursive
    * CTE stepping through each bucket's row_number order.
    */
  def q51StrictPacks(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.tokenCountWs(col("text")).as("n_tokens"))
    Packing.byTokenBudgetStrict(d, "doc_id", "n_tokens", PackBudget, PackBuckets)
  }

  def q51Oracle: String =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id,
       |    CASE WHEN text IS NULL THEN 0
       |         ELSE CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER) END AS n_tokens,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8) AS BIGINT) % $PackBuckets AS pack_bucket
       |  FROM documents
       |), ord AS (
       |  SELECT doc_id, n_tokens, pack_bucket,
       |    row_number() OVER (PARTITION BY pack_bucket ORDER BY doc_id) AS rn
       |  FROM toks
       |), rec AS (
       |  SELECT pack_bucket, rn, doc_id, n_tokens,
       |    CAST(0 AS BIGINT) AS pack_id, CAST(n_tokens AS BIGINT) AS used
       |  FROM ord WHERE rn = 1
       |  UNION ALL
       |  SELECT o.pack_bucket, o.rn, o.doc_id, o.n_tokens,
       |    CASE WHEN r.used > 0 AND r.used + o.n_tokens > $PackBudget
       |         THEN r.pack_id + 1 ELSE r.pack_id END,
       |    CASE WHEN r.used > 0 AND r.used + o.n_tokens > $PackBudget
       |         THEN CAST(o.n_tokens AS BIGINT) ELSE r.used + o.n_tokens END
       |  FROM ord o JOIN rec r
       |    ON o.pack_bucket = r.pack_bucket AND o.rn = r.rn + 1
       |)
       |SELECT doc_id, n_tokens, pack_bucket, pack_id FROM rec""".stripMargin

  /** q49: corpus vocabulary head — top 20 normalized terms by frequency
    * (ties break lexicographically). The explode-then-aggregate shape is
    * the canonical distributed term count: partial aggregation collapses
    * each partition's counts before the vocabulary-keyed shuffle.
    */
  def q49TopTerms(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(spark, dir)
      .select(explode(split(TextFns.normalizeText(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    terms.orderBy(col("freq").desc, col("term").asc).limit(20)
  }

  def q49Oracle: String =
    """WITH terms AS (
      |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
      |  FROM documents WHERE text IS NOT NULL
      |)
      |SELECT term, COUNT(*) AS freq
      |FROM terms
      |WHERE len(term) > 0
      |GROUP BY term
      |ORDER BY freq DESC, term ASC
      |LIMIT 20""".stripMargin

  /** q58: count-min sketch term frequencies — q49's top-20 terms point-
    * queried against a deterministic CMS built over ALL term occurrences
    * ([[graft.operators.CountMinSketch]]). est_count ≥ exact_count always
    * (CMS never undercounts); the oracle replays the full d×w matrix and
    * the min-over-rows readout.
    */
  def q58CmsTerms(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMinSketch
    val terms = Tables.documents(spark, dir)
      .select(explode(split(TextFns.normalizeText(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val cms = CountMinSketch.sketch(terms, col("term"))
    val top = terms.groupBy(col("term")).agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("term").asc).limit(20)
    CountMinSketch.estimate(cms, top, col("term"))
      .join(top, col("value") === col("term"))
      .select(col("value").as("term"), col("est_count"), col("exact_count"))
  }

  def q58Oracle: String = {
    import graft.operators.CountMinSketch.{Depth, Width}
    val rowVals = (0 until Depth).map(r => s"($r)").mkString(", ")
    s"""WITH terms AS (
       |  SELECT term FROM (
       |    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
       |    FROM documents WHERE text IS NOT NULL
       |  ) WHERE len(term) > 0
       |), top AS (
       |  SELECT term, COUNT(*) AS exact_count FROM terms
       |  GROUP BY term ORDER BY exact_count DESC, term ASC LIMIT 20
       |), cells AS (
       |  SELECT r.r AS row,
       |    CAST('0x' || substr(md5(r.r || ':' || term), 1, 8) AS BIGINT) % $Width AS bucket,
       |    COUNT(*) AS cnt
       |  FROM terms CROSS JOIN (VALUES $rowVals) r(r)
       |  GROUP BY 1, 2
       |), q AS (
       |  SELECT t.term, t.exact_count, r.r AS row,
       |    CAST('0x' || substr(md5(r.r || ':' || t.term), 1, 8) AS BIGINT) % $Width AS bucket
       |  FROM top t CROSS JOIN (VALUES $rowVals) r(r)
       |)
       |SELECT q.term, MIN(COALESCE(c.cnt, 0)) AS est_count, q.exact_count
       |FROM q LEFT JOIN cells c ON q.row = c.row AND q.bucket = c.bucket
       |GROUP BY q.term, q.exact_count""".stripMargin
  }

  /** q60: stratified deterministic sampling — the data-mixing primitive
    * ("keep 25% of en, all of zh, half of everything else"), reproducible
    * across engines because membership is a salted md5 of (id, stratum)
    * ([[Sampling.stratifiedSample]]). Gated on the exact kept row set.
    */
  def q60StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(
        Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        "doc_id", "lang", Map("en" -> 25, "zh" -> 100), defaultPct = 50)

  def q60Oracle: String =
    """SELECT doc_id, lang FROM documents
      |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || COALESCE(lang, '<null>') || ':stratum'), 1, 8) AS BIGINT) % 100
      |  < CASE WHEN lang = 'en' THEN 25 WHEN lang = 'zh' THEN 100 ELSE 50 END""".stripMargin

  /** q50: split-contamination audit — content fingerprints present in BOTH
    * the train and eval splits (the check that motivates dedup-before-
    * split). Composes [[TextFns.fingerprint]] with [[Sampling]]'s
    * deterministic assignment.
    */
  def q50Contamination(spark: SparkSession, dir: String): DataFrame = {
    val fp = Sampling.deterministicSplit(
        Tables.documents(spark, dir), "doc_id", trainPct = 90)
      .select(TextFns.fingerprint(col("text")).as("fingerprint"), col("split_name"))
    fp.groupBy(col("fingerprint"))
      .agg(sum(when(col("split_name") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split_name") === "eval", 1L).otherwise(0L)).as("n_eval"))
      .filter(col("n_train") > 0 && col("n_eval") > 0)
  }

  def q50Oracle: String =
    """WITH fp AS (
      |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
      |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8) AS BIGINT) % 100 < 90
      |         THEN 'train' ELSE 'eval' END AS split_name
      |  FROM documents
      |)
      |SELECT fingerprint,
      |  CAST(SUM(CASE WHEN split_name = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
      |  CAST(SUM(CASE WHEN split_name = 'eval' THEN 1 ELSE 0 END) AS BIGINT) AS n_eval
      |FROM fp
      |GROUP BY fingerprint
      |HAVING SUM(CASE WHEN split_name = 'train' THEN 1 ELSE 0 END) > 0
      |   AND SUM(CASE WHEN split_name = 'eval' THEN 1 ELSE 0 END) > 0""".stripMargin

  /** q79: EXACTLY-100 deterministic uniform sample of the corpus
    * ([[Sampling.deterministicExactK]]): the 100 docs with the smallest
    * salted md5 — reproducible anywhere, grows monotonically with k, and
    * plans as TakeOrderedAndProject (per-partition top-k, no global sort).
    */
  def q79HashSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.deterministicExactK(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("n_chars")),
      "doc_id", k = 100, salt = ":x79")

  def q79Oracle: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id IS NOT NULL
      |ORDER BY md5(CAST(doc_id AS VARCHAR) || ':x79'), doc_id
      |LIMIT 100""".stripMargin

  /** q128: per-source document CAP over the OPEN source set
    * ([[Sampling.capPerSource]] — the "at most N pages per domain"
    * web-corpus balancing rule; no quota map, every source the data
    * contains is capped). cap=15 bites at every shipped SF (sources
    * carry 25 docs at sf0.01, 250 at sf0.1). The oracle replays the
    * salted 13-hex-digit hash rank per source and the surviving rows
    * with their ranks.
    */
  def q128SourceCap(spark: SparkSession, dir: String): DataFrame =
    Sampling.capPerSource(
      Tables.documents(spark, dir).select(col("doc_id"), col("source")),
      "doc_id", "source", cap = 15)

  def q128Oracle: String =
    """WITH ranked AS (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY COALESCE(source, '<null>') ORDER BY
      |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cap'), 1, 13) AS BIGINT) ASC,
      |      doc_id ASC) AS INTEGER) AS cap_rank
      |  FROM documents WHERE doc_id IS NOT NULL
      |)
      |SELECT doc_id, source, cap_rank FROM ranked WHERE cap_rank <= 15""".stripMargin

  /** q107: TEMPERATURE source mixing ([[Sampling.temperatureMix]], the
    * multilingual-LM sampling exponent) over a deterministic 9:1
    * web/code skew derived from doc_id: per-source quotas ∝ n^0.5 from a
    * 120-row budget, filled by salted-hash rank. The sqrt path makes the
    * integer weights bit-replayable (IEEE sqrt is correctly rounded in
    * every engine), so the oracle recomputes counts → weights → floor
    * quotas → per-source hash rank with never a shared intermediate.
    * The flattening is visible in the gate: code holds 10% of the corpus
    * but ≈25% of the sample.
    */
  def q107TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("src_class",
        when(col("doc_id") % 10 =!= 0, "web").otherwise("code"))
      .select(col("doc_id"), col("src_class"), col("lang"))
    Sampling.temperatureMix(docs, "doc_id", "src_class", totalK = 120L)
  }

  def q107Oracle: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 10 <> 0 THEN 'web' ELSE 'code' END AS src_class,
      |    lang
      |  FROM documents WHERE doc_id IS NOT NULL
      |), counts AS (
      |  SELECT src_class, COUNT(*) AS n FROM docs GROUP BY 1
      |), w AS (
      |  SELECT src_class,
      |    GREATEST(CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1024.0) AS BIGINT), 1) AS w
      |  FROM counts
      |), ks AS (
      |  SELECT src_class,
      |    (120 * w) // (SELECT CAST(SUM(w) AS BIGINT) FROM w) AS k
      |  FROM w
      |), ranked AS (
      |  SELECT doc_id, src_class, lang,
      |    row_number() OVER (PARTITION BY src_class ORDER BY
      |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 13) AS BIGINT) ASC,
      |      doc_id ASC) AS rn
      |  FROM docs
      |)
      |SELECT r.doc_id, r.src_class, r.lang
      |FROM ranked r JOIN ks USING (src_class)
      |WHERE r.rn <= ks.k""".stripMargin

  /** q136's shape: DSIR selection with the `lang = 'en'` subcorpus as the
    * target distribution, hashed bigram features, keep the top
    * [[DsirKeepPct]]%. The oracle replays the shingle hashing (the
    * q21/q22 md5 discipline at n=2, every occurrence), the 256-bucket
    * fold, both smoothed integer weight divisions, the exact per-doc
    * BIGINT score, and the integer rank-threshold cut — no float enters.
    */
  val DsirKeepPct = 20

  /** q136: DSIR hashed-ngram importance selection
    * ([[graft.operators.Dsir]] — the statistical target-matching filter
    * of an LLM curation stack, in exact integer arithmetic).
    */
  def q136Dsir(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dsir.select(Tables.documents(spark, dir),
      "doc_id", "text", col("lang") === "en", DsirKeepPct)

  def q136Oracle: String = {
    import graft.operators.Dsir.{Buckets, RScale, WScale}
    val norm = """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""
    s"""WITH docs AS (
       |  SELECT doc_id, lang, $norm AS norm FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), docsf AS (
       |  SELECT * FROM docs WHERE length(norm) > 0
       |), toks AS (
       |  SELECT doc_id, lang, norm, string_split(norm, ' ') AS t FROM docsf
       |), sh AS (
       |  SELECT doc_id, lang, CASE WHEN len(t) >= 2
       |    THEN list_transform(range(len(t)-1), i -> array_to_string(t[i+1:i+2], ' '))
       |    ELSE [norm] END AS shingles
       |  FROM toks
       |), hs AS (
       |  SELECT doc_id, lang,
       |    unnest(list_transform(shingles,
       |      s -> CAST('0x' || substr(md5(s),1,8) AS BIGINT) % 2147483647)) AS h
       |  FROM sh
       |), cnt AS (
       |  SELECT doc_id, h % $Buckets AS f, CAST(COUNT(*) AS BIGINT) AS c,
       |    bool_or(lang = 'en') AS tgt
       |  FROM hs GROUP BY 1, 2
       |), stats AS (
       |  SELECT f, CAST(SUM(c) AS BIGINT) AS rf,
       |    CAST(SUM(CASE WHEN tgt THEN c ELSE 0 END) AS BIGINT) AS tf
       |  FROM cnt GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(rf) AS BIGINT) AS rt, CAST(SUM(tf) AS BIGINT) AS tt
       |  FROM stats
       |), twc AS (
       |  SELECT ($WScale * (rt + $Buckets)) // (tt + $Buckets) AS tw FROM tot
       |), w AS (
       |  SELECT f, ((tf + 1) * tw) // (rf + 1) AS w
       |  FROM stats CROSS JOIN twc
       |), scored AS (
       |  SELECT c.doc_id, CAST(SUM(c.c * w.w) AS BIGINT) AS score,
       |    CAST(SUM(c.c) AS BIGINT) AS n_feat
       |  FROM cnt c JOIN w USING (f) GROUP BY 1
       |), spt AS (
       |  SELECT doc_id, n_feat, score,
       |    (score * $RScale) // n_feat AS score_per_tok
       |  FROM scored
       |), nn AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM spt
       |), cum AS (
       |  SELECT v, SUM(c) OVER (ORDER BY v) AS cum
       |  FROM (SELECT score_per_tok AS v, COUNT(*) AS c FROM spt GROUP BY 1)
       |), thr AS (
       |  SELECT MIN(v) AS t FROM cum CROSS JOIN nn
       |  WHERE cum >= n - ((n * $DsirKeepPct) // 100) + 1
       |)
       |SELECT doc_id, n_feat, score, score_per_tok
       |FROM spt CROSS JOIN thr
       |WHERE score_per_tok >= thr.t""".stripMargin
  }

  /** q140's pack budget: per-doc BPE token counts under only 8 learned
    * merges run near character grain (~1.5-2k tokens on the ~300-word
    * synthetic docs), so 8192 gives a few docs per pack — both the
    * multi-doc and the budget-crossing regimes live at gate scale.
    */
  val TokenizerPackBudget = 8192L

  /** q140: the composed TOKENIZER-AWARE packing chain — the end-to-end
    * shape a pretraining pipeline ships where q48 stops at a whitespace
    * proxy: train BPE merges on the raw corpus (q137's trainer), tokenize
    * the distinct-word vocab once under them (q138's encoder), join doc
    * words → EXACT per-doc token counts under the learned tokenizer
    * ([[graft.operators.BpeTrain.docTokenCounts]] — the vocab-decoupled
    * join, never a corpus re-encode), then assign docs to token-budgeted
    * packs on those counts. Stage gates can each be right while the
    * composition is wrong (grain drift, count-column mixups, docs dropped
    * between stages) — this gate replays the WHOLE chain from raw
    * documents in DuckDB: the 8 training rounds, every word's encoding,
    * every doc's token sum, the hash-bucketing and the running-sum pack
    * assignment.
    */
  def q140TokenizerPack(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val learned = graft.operators.BpeTrain
      .merges(docs, "text", TextQueries.BpeMergeSteps)
      .orderBy(col("step")).collect()
      .map { r =>
        val Array(l, rt) = r.getString(1).split(" ", 2)
        (l, rt)
      }.toSeq
    val docToks = graft.operators.BpeTrain
      .docTokenCounts(docs, "doc_id", "text", learned)
    Packing.byTokenBudget(docToks, "doc_id", "doc_tokens",
      TokenizerPackBudget, PackBuckets)
  }

  def q140Oracle: String = {
    val steps = TextQueries.BpeMergeSteps
    s"""WITH ${TextQueries.bpeEncodeCtes},
       |enc AS (
       |  SELECT word, CAST(len(string_split(s, '|')) AS BIGINT) AS n_tokens
       |  FROM w$steps
       |), docw AS (
       |  SELECT doc_id,
       |    unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
       |  FROM documents WHERE text IS NOT NULL
       |), dt AS (
       |  SELECT d.doc_id, CAST(SUM(e.n_tokens) AS BIGINT) AS doc_tokens
       |  FROM docw d JOIN enc e USING (word)
       |  GROUP BY 1
       |), bucketed AS (
       |  SELECT doc_id, doc_tokens,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8) AS BIGINT) % $PackBuckets AS pack_bucket
       |  FROM dt
       |), cum AS (
       |  SELECT doc_id, doc_tokens, pack_bucket,
       |    SUM(doc_tokens) OVER (PARTITION BY pack_bucket ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
       |  FROM bucketed
       |)
       |SELECT doc_id, doc_tokens, pack_bucket,
       |  CAST((c - doc_tokens) // $TokenizerPackBudget AS BIGINT) AS pack_id
       |FROM cum""".stripMargin
  }

  /** q141: per-SOURCE token accounting under the learned tokenizer — the
    * budget table a mixture recipe actually consumes (the per-source
    * accounting [[graft.operators.BpeTrain.encodeVocab]]'s scaladoc
    * points at): per source, document count, total exact BPE tokens, and
    * each source's share of the corpus budget. Share is ONE double
    * division of two exact BIGINTs (both ≤ 2^53 at any realistic corpus
    * — correctly rounded, engine-reproducible); the corpus total rides a
    * 1-row broadcast cross-join (the PageRank dangling-mass shape), never
    * a single-partition window. Source grain is domain-bounded, so the
    * output is dim-sized whatever the corpus.
    */
  def q141SourceBudget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val learned = graft.operators.BpeTrain
      .merges(docs, "text", TextQueries.BpeMergeSteps)
      .orderBy(col("step")).collect()
      .map { r =>
        val Array(l, rt) = r.getString(1).split(" ", 2)
        (l, rt)
      }.toSeq
    // both the rollup and its grand total consume this frame: cache the
    // dim-sized aggregate or the corpus-scale token chain computes TWICE
    // (the q141 100x probe measured exactly that before the cache)
    val perSource = graft.operators.OpCache.cache(graft.operators.BpeTrain
      .docTokenCounts(docs, "doc_id", "text", learned)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_tokens")).as("src_tokens")))
    val total = perSource.agg(sum(col("src_tokens")).as("__total"))
    perSource.crossJoin(broadcast(total))
      .withColumn("token_share",
        col("src_tokens").cast("double") / col("__total").cast("double"))
      .drop("__total")
  }

  def q141Oracle: String = {
    val steps = TextQueries.BpeMergeSteps
    s"""WITH ${TextQueries.bpeEncodeCtes},
       |enc AS (
       |  SELECT word, CAST(len(string_split(s, '|')) AS BIGINT) AS n_tokens
       |  FROM w$steps
       |), docw AS (
       |  SELECT doc_id,
       |    unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
       |  FROM documents WHERE text IS NOT NULL
       |), dt AS (
       |  SELECT d.doc_id, CAST(SUM(e.n_tokens) AS BIGINT) AS doc_tokens
       |  FROM docw d JOIN enc e USING (word)
       |  GROUP BY 1
       |), per_src AS (
       |  SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(t.doc_tokens) AS BIGINT) AS src_tokens
       |  FROM dt t JOIN documents s USING (doc_id)
       |  GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(src_tokens) AS BIGINT) AS total FROM per_src
       |)
       |SELECT source, n_docs, src_tokens,
       |  CAST(src_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS token_share
       |FROM per_src CROSS JOIN tot""".stripMargin
  }

  /** q142's per-source token quota: ~25 docs x ~56 ws-tokens ≈ 1.36k
    * tokens per source at sf0.01, so 600 keeps roughly the first eleven
    * docs of each source — the cut, the kept-whole overshoot, and the
    * survives-whole regimes all live at gate scale.
    */
  val MixtureQuota = 600L

  /** q142: mixture materialization ([[graft.operators.Mixture]]) — the
    * quota EXECUTION step after q141's accounting: each source
    * contributes docs in doc_id order until its token quota is spent
    * (start-offset convention — a doc starting inside the quota is kept
    * whole). The engine computes per-source offsets with the grouped
    * two-phase exact prefix sum (no per-source window sort); the oracle
    * IS the per-source ordered window — the equivalence under test.
    */
  def q142MixtureQuota(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextFns.tokenCountWs(col("text")).as("n_tokens"))
    graft.operators.Mixture.materializeByQuota(d, "doc_id", "source",
      "n_tokens", MixtureQuota)
  }

  /** q145's recipe: four weighted sources over a 4000-token budget —
    * quotas 2000/1200/400/400 against ~1.36k tokens per source at
    * sf0.01, so src0 survives whole, src1 barely cuts, src2/src3 cut
    * hard, and the 16 unlisted sources contribute nothing.
    */
  val MixtureBudget = 4000L
  val MixtureWeights: Seq[(String, Long)] =
    Seq("src0" -> 5L, "src1" -> 3L, "src2" -> 1L, "src3" -> 1L)

  /** q145: WEIGHTED mixture materialization — the non-uniform recipe on
    * the same grouped prefix sum as q142: quota = budget·w DIV Σw per
    * listed source, unlisted sources dropped (closed-recipe convention).
    */
  def q145MixtureWeighted(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextFns.tokenCountWs(col("text")).as("n_tokens"))
    graft.operators.Mixture.materializeByWeights(d, "doc_id", "source",
      "n_tokens", MixtureBudget, MixtureWeights.toMap)
  }

  def q145Oracle: String = {
    val sumW = MixtureWeights.map(_._2).sum
    val values = MixtureWeights
      .map { case (s, w) => s"('$s', $w)" }.mkString(", ")
    s"""WITH w(source, wt) AS (VALUES $values),
       |q AS (
       |  SELECT source, CAST(($MixtureBudget * wt) // $sumW AS BIGINT) AS quota
       |  FROM w
       |), toks AS (
       |  SELECT doc_id, source,
       |    CASE WHEN text IS NULL THEN 0
       |         ELSE CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) END AS n_tokens
       |  FROM documents WHERE source IS NOT NULL
       |), cum AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS src_cum
       |  FROM toks
       |)
       |SELECT c.source, doc_id, n_tokens, src_cum
       |FROM cum c JOIN q USING (source)
       |WHERE src_cum - n_tokens < quota""".stripMargin
  }

  def q142Oracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    CASE WHEN text IS NULL THEN 0
       |         ELSE CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) END AS n_tokens
       |  FROM documents WHERE source IS NOT NULL
       |), cum AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS src_cum
       |  FROM toks
       |)
       |SELECT doc_id, source, n_tokens, src_cum FROM cum
       |WHERE src_cum - n_tokens < $MixtureQuota""".stripMargin

  /** q149: CCNet-style n-gram LM quality filter — train a bigram
    * stupid-backoff LM on the `lang='en'` stratum (the q136 target),
    * score EVERY document in exact scaled-integer arithmetic, flag the
    * top [[LmKeepPct]]% by per-token score (threshold ties survive).
    * The oracle replays the whole composition: normalization, the
    * (prev, w) bigram multiset, unigram/bigram counts, add-one
    * smoothing, the three-way backoff CASE, every doc's BIGINT score
    * sum, and the exact-rank cut. See [[graft.operators.NgramLm]].
    */
  val LmKeepPct = 60

  def q149LmScore(spark: SparkSession, dir: String): DataFrame =
    graft.operators.NgramLm.flagged(Tables.documents(spark, dir),
      "doc_id", "text", col("lang") === "en", LmKeepPct)

  /** CTE chain replaying [[graft.operators.NgramLm.score]] with the LM
    * trained on `tgtSql` (an SQL boolean over the source's columns):
    * emits `{p}docs..{p}spt` with `{p}spt(doc_id, n_tok, lm_score,
    * lm_score_per_tok)`. `fromSql` is the corpus source (a table name or
    * parenthesized subquery exposing doc_id, lang, text — q163 passes
    * the funnel's stage-survivor subquery). No leading WITH, no
    * trailing comma — callers splice it (q149 once, q159 twice with
    * different strata, q163 over survivors).
    */
  private def lmSptCtes(p: String, tgtSql: String,
                        fromSql: String = "documents"): String = {
    import graft.operators.NgramLm.{AlphaDen, AlphaNum, RScale, SScale}
    val norm = """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""
    s"""${p}docs AS (
       |  SELECT doc_id, lang, $norm AS norm FROM $fromSql
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), ${p}docsf AS (
       |  SELECT doc_id, $tgtSql AS tgt, string_split(norm, ' ') AS t
       |  FROM ${p}docs WHERE length(norm) > 0
       |), ${p}grams AS (
       |  SELECT doc_id, tgt,
       |    unnest(list_transform(range(len(t)), i -> struct_pack(
       |      w := t[i+1],
       |      prev := CASE WHEN i > 0 THEN t[i] END))) AS g
       |  FROM ${p}docsf
       |), ${p}cnt AS (
       |  SELECT doc_id, g.prev AS prev, g.w AS w,
       |    CAST(COUNT(*) AS BIGINT) AS c, bool_or(tgt) AS tgt
       |  FROM ${p}grams GROUP BY 1, 2, 3
       |), ${p}uni AS (
       |  SELECT w, CAST(SUM(c) AS BIGINT) AS c1 FROM ${p}cnt WHERE tgt GROUP BY 1
       |), ${p}big AS (
       |  SELECT prev, w, CAST(SUM(c) AS BIGINT) AS c2
       |  FROM ${p}cnt WHERE tgt AND prev IS NOT NULL GROUP BY 1, 2
       |), ${p}tot AS (
       |  SELECT CAST(SUM(c1) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v
       |  FROM ${p}uni
       |), ${p}s AS (
       |  SELECT c.doc_id, c.c,
       |    CASE
       |      WHEN c.prev IS NULL
       |        THEN ($SScale * (COALESCE(u.c1, 0) + 1)) // (t.n + t.v)
       |      WHEN b.c2 IS NOT NULL
       |        THEN ($SScale * b.c2) // p.c1
       |      ELSE ($AlphaNum * $SScale * (COALESCE(u.c1, 0) + 1))
       |        // ($AlphaDen * (t.n + t.v))
       |    END AS s
       |  FROM ${p}cnt c
       |  LEFT JOIN ${p}uni u ON u.w = c.w
       |  LEFT JOIN ${p}uni p ON p.w = c.prev
       |  LEFT JOIN ${p}big b ON b.prev = c.prev AND b.w = c.w
       |  CROSS JOIN ${p}tot t
       |), ${p}scored AS (
       |  SELECT doc_id, CAST(SUM(c * s) AS BIGINT) AS lm_score,
       |    CAST(SUM(c) AS BIGINT) AS n_tok
       |  FROM ${p}s GROUP BY 1
       |), ${p}spt AS (
       |  SELECT doc_id, n_tok, lm_score,
       |    (lm_score * $RScale) // n_tok AS lm_score_per_tok
       |  FROM ${p}scored
       |)""".stripMargin
  }

  def q149Oracle: String = {
    s"""WITH ${lmSptCtes("", "lang = 'en'")}, nn AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM spt
       |), cum AS (
       |  SELECT v, SUM(c) OVER (ORDER BY v) AS cum
       |  FROM (SELECT lm_score_per_tok AS v, COUNT(*) AS c FROM spt GROUP BY 1)
       |), thr AS (
       |  SELECT MIN(v) AS t FROM cum CROSS JOIN nn
       |  WHERE cum >= n - ((n * $LmKeepPct) // 100) + 1
       |)
       |SELECT doc_id, n_tok, lm_score, lm_score_per_tok,
       |  lm_score_per_tok >= thr.t AS keep
       |FROM spt CROSS JOIN thr""".stripMargin
  }

  /** q155: per-SOURCE token accounting at BYTE grain — q141's budget table
    * under the q151 byte-level tokenizer, plus the COMPRESSION ratio
    * (bytes per token) production tokenizer evaluations report: byte-level
    * budgets are what GPT-2/Llama-class pipelines actually meter, and the
    * ratio is the per-source signal for tokenizer fit (web boilerplate
    * compresses differently from prose). Per source: docs-with-tokens
    * count, total UTF-8 text bytes of those docs, total exact byte-BPE
    * tokens, token share of the corpus budget, and bytes_per_token — the
    * two ratios each ONE double division of exact BIGINTs (≤ 2^53 —
    * correctly rounded, engine-reproducible); the corpus total rides the
    * 1-row broadcast cross-join. Scale shape = q141's: the doc-grain
    * counts are the vocab-decoupled join, the rollup is dim-sized by the
    * source domain, and the cached per-source aggregate feeds both the
    * rollup and its grand total.
    */
  def q155ByteSourceBudget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val learned = graft.operators.BpeTrain
      .byteMerges(docs, "text", TextQueries.ByteMergeSteps)
      .orderBy(col("step")).collect()
      .map { r =>
        val Array(l, rt) = r.getString(1).split(" ", 2)
        (l, rt)
      }.toSeq
    val perSource = graft.operators.OpCache.cache(graft.operators.BpeTrain
      .byteDocTokenCounts(docs, "doc_id", "text", learned)
      .join(docs.select(col("doc_id"), col("source"),
        octet_length(col("text")).cast("long").as("__bytes")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__bytes")).as("src_bytes"),
        sum(col("doc_tokens")).as("src_tokens")))
    val total = perSource.agg(sum(col("src_tokens")).as("__total"))
    perSource.crossJoin(broadcast(total))
      .withColumn("token_share",
        col("src_tokens").cast("double") / col("__total").cast("double"))
      .withColumn("bytes_per_token",
        col("src_bytes").cast("double") / col("src_tokens").cast("double"))
      .drop("__total")
  }

  def q155Oracle: String = {
    val steps = TextQueries.ByteMergeSteps
    s"""WITH ${TextQueries.byteEncodeCtes},
       |enc AS (
       |  SELECT pretok, CAST(len(string_split(s, '|')) AS BIGINT) AS n_tokens
       |  FROM b$steps
       |), docp AS (
       |  SELECT doc_id,
       |    unnest(regexp_extract_all(text, '${TextQueries.bytePreTokDuck}')) AS pretok
       |  FROM documents WHERE text IS NOT NULL
       |), dt AS (
       |  SELECT d.doc_id, CAST(SUM(e.n_tokens) AS BIGINT) AS doc_tokens
       |  FROM docp d JOIN enc e USING (pretok)
       |  GROUP BY 1
       |), per_src AS (
       |  SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(octet_length(encode(s.text))) AS BIGINT) AS src_bytes,
       |    CAST(SUM(t.doc_tokens) AS BIGINT) AS src_tokens
       |  FROM dt t JOIN documents s USING (doc_id)
       |  GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(src_tokens) AS BIGINT) AS total FROM per_src
       |)
       |SELECT source, n_docs, src_bytes, src_tokens,
       |  CAST(src_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS token_share,
       |  CAST(src_bytes AS DOUBLE) / CAST(src_tokens AS DOUBLE) AS bytes_per_token
       |FROM per_src CROSS JOIN tot""".stripMargin
  }

  /** q156: Naive-Bayes quality classifier — the fastText-style
    * "reference vs crawl" filter (GPT-3 appendix A / LLaMA): fit two
    * class-conditional unigram models on the seed strata (positive =
    * the `lang='en'` reference stratum — the q136/q149 target — and
    * negative = every other labeled stratum), score EVERY document in
    * exact scaled-integer arithmetic, decide by integer margin sign.
    * The oracle replays normalization, the (doc, w) multiset, both
    * class count tables, the shared training vocabulary, add-one
    * smoothing, every doc's two BIGINT scores, the margins, and the
    * decision. See [[graft.operators.NbClassifier]].
    */
  def q156NbClassifier(spark: SparkSession, dir: String): DataFrame =
    graft.operators.NbClassifier.score(Tables.documents(spark, dir),
      "doc_id", "text", col("lang") === "en",
      col("lang").isNotNull && col("lang") =!= "en")

  /** CTE chain replaying [[graft.operators.NbClassifier]] with the two
    * class strata as SQL booleans over the MODEL source's columns:
    * emits `{p}nb…` ending in `{p}nbsc(doc_id, n_tok, pos_score,
    * neg_score)`. The model fits on `modelFromSql` and the scoring runs
    * over `scoreFromSql` — equal for q156/q161 (`score`'s shared-frame
    * path), different for q163 (the fit/scoreWith split: model on the
    * raw corpus, scoring on survivors). Same splice contract as
    * [[lmSptCtes]].
    */
  private def nbCtes(p: String, posSql: String, negSql: String,
                     modelFromSql: String = "documents",
                     scoreFromSql: String = "documents"): String = {
    import graft.operators.NbClassifier.SScale
    val norm = """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""
    s"""${p}nbmdocs AS (
       |  SELECT doc_id, lang, $norm AS norm FROM $modelFromSql
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), ${p}nbmtoks AS (
       |  SELECT doc_id, $posSql AS pos,
       |    $negSql AS neg,
       |    unnest(string_split(norm, ' ')) AS w
       |  FROM ${p}nbmdocs WHERE length(norm) > 0
       |), ${p}nbmcnt AS (
       |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c,
       |    bool_or(pos) AS pos, bool_or(neg) AS neg
       |  FROM ${p}nbmtoks GROUP BY 1, 2
       |), ${p}nbmodel AS (
       |  SELECT w,
       |    CAST(SUM(CASE WHEN pos THEN c ELSE 0 END) AS BIGINT) AS np,
       |    CAST(SUM(CASE WHEN neg THEN c ELSE 0 END) AS BIGINT) AS nn
       |  FROM ${p}nbmcnt GROUP BY 1
       |  HAVING np > 0 OR nn > 0
       |), ${p}nbtot AS (
       |  SELECT CAST(SUM(np) AS BIGINT) AS npos,
       |    CAST(SUM(nn) AS BIGINT) AS nneg,
       |    CAST(COUNT(*) AS BIGINT) AS v
       |  FROM ${p}nbmodel
       |), ${p}nbdocs AS (
       |  SELECT doc_id, $norm AS norm FROM $scoreFromSql
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |), ${p}nbcnt AS (
       |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |    SELECT doc_id, unnest(string_split(norm, ' ')) AS w
       |    FROM ${p}nbdocs WHERE length(norm) > 0)
       |  GROUP BY 1, 2
       |), ${p}nbs AS (
       |  SELECT c.doc_id, c.c,
       |    ($SScale * (COALESCE(m.np, 0) + 1)) // (t.npos + t.v) AS sp,
       |    ($SScale * (COALESCE(m.nn, 0) + 1)) // (t.nneg + t.v) AS sn
       |  FROM ${p}nbcnt c LEFT JOIN ${p}nbmodel m USING (w)
       |  CROSS JOIN ${p}nbtot t
       |), ${p}nbsc AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
       |    CAST(SUM(c * sp) AS BIGINT) AS pos_score,
       |    CAST(SUM(c * sn) AS BIGINT) AS neg_score
       |  FROM ${p}nbs GROUP BY 1
       |)""".stripMargin
  }

  def q156Oracle: String = {
    import graft.operators.NbClassifier.RScale
    s"""WITH ${nbCtes("", "lang = 'en'", "lang IS NOT NULL AND lang <> 'en'")}
       |SELECT doc_id, n_tok, pos_score, neg_score,
       |  pos_score - neg_score AS margin,
       |  (pos_score * $RScale) // n_tok - (neg_score * $RScale) // n_tok
       |    AS margin_per_tok,
       |  pos_score > neg_score AS pred
       |FROM nbsc""".stripMargin
  }

  /** q159: Moore-Lewis cross-entropy-difference selection — score every
    * document under an IN-DOMAIN bigram LM (the `lang='en'` stratum,
    * the q136/q149 target) and a GENERAL LM (trained on the whole
    * corpus), rank by the integer excess, keep the top [[MlKeepPct]]%
    * (threshold ties survive). The oracle replays BOTH complete LM
    * chains (the q149 CTE chain twice, different strata), the doc-keyed
    * join, every excess, and the exact-rank cut.
    * See [[graft.operators.NgramLm.contrastiveFlagged]].
    */
  val MlKeepPct = 50

  def q159MooreLewis(spark: SparkSession, dir: String): DataFrame =
    graft.operators.NgramLm.contrastiveFlagged(Tables.documents(spark, dir),
      "doc_id", "text", col("lang") === "en", lit(true), MlKeepPct)

  def q159Oracle: String =
    s"""WITH ${lmSptCtes("il", "lang = 'en'")}, ${lmSptCtes("gl", "TRUE")},
       |j AS (
       |  SELECT a.doc_id, a.n_tok, a.lm_score_per_tok AS in_spt,
       |    b.lm_score_per_tok AS gen_spt,
       |    a.lm_score_per_tok - b.lm_score_per_tok AS excess
       |  FROM ilspt a JOIN glspt b USING (doc_id)
       |), nn AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM j
       |), cum AS (
       |  SELECT v, SUM(c) OVER (ORDER BY v) AS cum
       |  FROM (SELECT excess AS v, COUNT(*) AS c FROM j GROUP BY 1)
       |), thr AS (
       |  SELECT MIN(v) AS t FROM cum CROSS JOIN nn
       |  WHERE cum >= n - ((n * $MlKeepPct) // 100) + 1
       |)
       |SELECT doc_id, n_tok, in_spt, gen_spt, excess,
       |  excess >= thr.t AS keep
       |FROM j CROSS JOIN thr""".stripMargin

  /** q160: CURRICULUM-ordered shard export — q157's hash sharding with
    * q149's exact-integer LM score as the within-shard order: shards
    * stay i.i.d. hash slices, but each shard's late positions hold the
    * highest-LM-score docs (the quality-annealing schedule). Only docs
    * the LM can score (non-empty normalized text) are exported — a
    * curriculum needs a key. The oracle replays the whole LM chain,
    * the shard hash, and the per-shard (score, id) row_number.
    * See [[graft.operators.Sharding.manifestOrdered]].
    */
  val CurrShards = 4

  def q160CurriculumShards(spark: SparkSession, dir: String): DataFrame = {
    val scored = graft.operators.NgramLm.score(Tables.documents(spark, dir),
      "doc_id", "text", col("lang") === "en")
      .select(col("doc_id"), col("lm_score_per_tok"))
    graft.operators.Sharding.manifestOrdered(scored, "doc_id", CurrShards,
      col("lm_score_per_tok"))
  }

  def q160Oracle: String =
    s"""WITH ${lmSptCtes("", "lang = 'en'")}, a AS (
       |  SELECT doc_id, lm_score_per_tok,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 8) AS BIGINT)
       |      % $CurrShards AS shard
       |  FROM spt
       |)
       |SELECT doc_id, lm_score_per_tok, shard,
       |  CAST(row_number() OVER (PARTITION BY shard
       |    ORDER BY lm_score_per_tok, doc_id) AS BIGINT) AS seq
       |FROM a""".stripMargin

  /** q161: STREAMING quality classification — the frozen-model twin of
    * q156 under the q152 sink discipline: the NB model fits ONCE on the
    * full static corpus, then a capped document feed (`doc_id <
    * [[NbFeedCap]]`, the SF-invariant harness convention) arrives
    * through a REAL MemoryStream in [[NbStreamBatches]] micro-batches,
    * each scored with the frozen model and published as its own
    * `score_batch` partition (staging → rename; the last batch is
    * re-applied directly and must no-op on the marker). The gated
    * result is the scored table read back from DISK — and the oracle is
    * q156's replay restricted to the fed ids, because frozen-model
    * scoring is per-document (the monoid contract).
    * See [[graft.streaming.NbStreamFilter]].
    */
  val NbFeedCap = 400L
  val NbStreamBatches = 3

  final case class DocEvent(doc_id: Long, text: String)

  def q161NbStream(spark: SparkSession, dir: String): DataFrame = {
    val target = s"${PipelineQueries.freshDir("q161")}/nb"
    val docs = Tables.documents(spark, dir)
    val model = graft.operators.NbClassifier.fit(docs, "doc_id", "text",
      col("lang") === "en", col("lang").isNotNull && col("lang") =!= "en")
    val sink = graft.streaming.NbStreamFilter.appendBatch(
      target, model, "doc_id", "text") _
    val fed = docs.filter(col("doc_id") < NbFeedCap)
    import spark.implicits._
    val batches = FeedHarness.batchesOf(
      fed.select((col("doc_id") % NbStreamBatches).as("b"),
        col("doc_id"), col("text")), "b")(r =>
      DocEvent(r.getLong(1), if (r.isNullAt(2)) null else r.getString(2)))
    FeedHarness.driveForeach(spark, batches)(sink)
    // retry of the LAST applied batch id — must no-op on the marker
    sink(fed.filter(col("doc_id") % NbStreamBatches === NbStreamBatches - 1)
      .select(col("doc_id"), col("text")), (NbStreamBatches - 1).toLong)
    graft.streaming.NbStreamFilter.readScored(spark, target)
  }

  def q161Oracle: String =
    s"""$q156Oracle
       |WHERE doc_id < $NbFeedCap""".stripMargin

  /** q163: curation FUNNEL report — per-document drop attribution
    * across the composed chain exact-dedup → Gopher rules → LM filter →
    * NB classifier, each stage seeing only the previous stage's
    * survivors (so the LM and the classifier TRAIN on the cleaned
    * corpus — stage order changes the models, which is why this is a
    * composition gate and not a join of the per-stage gates). The
    * oracle replays the whole cascade: the fingerprint dedup, the full
    * rules statistics (q127's builder), the LM chain TRAINED ON
    * SURVIVORS (the q149 builder over a survivor subquery) incl. its
    * rank cut, the NB model fitted on the RAW corpus and applied to
    * survivors (the fit/scoreWith split), and the first-failure CASE.
    * See [[graft.pipelines.CurationFunnel]].
    */
  val FunnelLmKeepPct = 70

  def q163CurationFunnel(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.CurationFunnel.stages(Tables.documents(spark, dir),
      "doc_id", "text", col("lang") === "en",
      col("lang").isNotNull && col("lang") =!= "en",
      TextQueries.Q127Th, FunnelLmKeepPct)

  def q163Oracle: String = {
    val norm = """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""
    val d2From = "SELECT b.doc_id, b.text FROM fb b JOIN fd1 USING (doc_id)"
    val d3From =
      "(SELECT b.doc_id, b.lang, b.text FROM fb b JOIN fd2 USING (doc_id))"
    val d4From =
      "(SELECT b.doc_id, b.lang, b.text FROM fb b JOIN fd3 USING (doc_id))"
    s"""WITH fb AS (
       |  SELECT doc_id, lang, text, $norm AS norm
       |  FROM documents WHERE doc_id IS NOT NULL
       |), fvalid AS (
       |  SELECT * FROM fb WHERE text IS NOT NULL AND length(norm) > 0
       |), fd1 AS (
       |  SELECT MIN(doc_id) AS doc_id FROM fvalid GROUP BY md5(norm)
       |),
       |${TextQueries.qualityCtes(d2From, TextQueries.Q127Th)},
       |fd2 AS (
       |  SELECT doc_id FROM qrstats
       |  WHERE ${TextQueries.qualityPassedSql(TextQueries.Q127Th)}
       |),
       |${lmSptCtes("fl", "lang = 'en'", d3From)},
       |flnn AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM flspt
       |), flcum AS (
       |  SELECT v, SUM(c) OVER (ORDER BY v) AS cum
       |  FROM (SELECT lm_score_per_tok AS v, COUNT(*) AS c FROM flspt GROUP BY 1)
       |), flthr AS (
       |  SELECT MIN(v) AS t FROM flcum CROSS JOIN flnn
       |  WHERE cum >= n - ((n * $FunnelLmKeepPct) // 100) + 1
       |), fd3 AS (
       |  SELECT doc_id FROM flspt CROSS JOIN flthr WHERE lm_score_per_tok >= t
       |),
       |${nbCtes("fn", "lang = 'en'", "lang IS NOT NULL AND lang <> 'en'",
         "documents", d4From)},
       |fd4 AS (
       |  SELECT doc_id FROM fnnbsc WHERE pos_score > neg_score
       |)
       |SELECT b.doc_id,
       |  CASE WHEN b.doc_id NOT IN (SELECT doc_id FROM fvalid) THEN 'invalid'
       |       WHEN b.doc_id NOT IN (SELECT doc_id FROM fd1) THEN 'exact_dedup'
       |       WHEN b.doc_id NOT IN (SELECT doc_id FROM fd2) THEN 'rules'
       |       WHEN b.doc_id NOT IN (SELECT doc_id FROM fd3) THEN 'lm'
       |       WHEN b.doc_id NOT IN (SELECT doc_id FROM fd4) THEN 'classifier'
       |       ELSE 'kept' END AS stage
       |FROM fb b""".stripMargin
  }

  /** Shingle-hash-list CTE fragment (the q123 replay shapes with a
    * parameterized source) — `${p}shl(doc_id, hashes)` mirrors
    * [[graft.operators.dedup.TextShingles]]' width-3 hashing exactly.
    */
  private def shingleHashListCtes(p: String, fromSql: String,
                                  n: Int): String = {
    val norm = """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""
    s"""${p}sdocs AS (
       |  SELECT doc_id, $norm AS norm FROM $fromSql WHERE text IS NOT NULL
       |), ${p}stoks AS (
       |  SELECT doc_id, norm, string_split(norm, ' ') AS t FROM ${p}sdocs
       |), ${p}ssh AS (
       |  SELECT doc_id, CASE WHEN len(t) >= $n
       |    THEN list_transform(range(len(t)-${n - 1}), i -> array_to_string(t[i+1:i+$n], ' '))
       |    ELSE [norm] END AS shingles
       |  FROM ${p}stoks
       |), ${p}shl AS (
       |  SELECT doc_id, list_distinct(list_transform(shingles,
       |    s -> CAST('0x' || substr(md5(s),1,8) AS BIGINT) % 2147483647)) AS hashes
       |  FROM ${p}ssh
       |)""".stripMargin
  }

  /** q170's benchmark stratum: every ~11th document plays the external
    * eval set (q123's convention).
    */
  val FunnelBenchMod = 11

  /** q170's shingle width: 8 — the GPT-3 appendix-C production grain.
    * Width matters here: at n=3 the synthetic corpus's narrow
    * vocabulary collides so broadly that decontamination would wipe the
    * LM's entire training stratum (measured 29/454 clean at sf0.001 vs
    * 447/454 at n=8) — exactly the recall/precision trade #30d's width
    * knob exists for.
    */
  val FunnelDeconN = 8

  /** q170: DECONTAMINATION-SPLICED funnel — the pluggable-stage
    * composition ([[graft.pipelines.CurationFunnel.stagesOf]]): the
    * standard q163 spine with a benchmark n-gram decontamination stage
    * (#30d's operator, the GPT-3/Pile discipline) SPLICED between
    * `rules` and `lm`. The splice is a semantic change, not a flag
    * join: the LM now TRAINS on the decontaminated survivors' target
    * stratum — a leaked benchmark document can no longer shape the
    * quality model that judges everything downstream — and the oracle
    * replays the RE-ORDERED cascade end-to-end (the q163 CTE chain with
    * the decon hit-join spliced at exactly that point), so a funnel
    * that merely flagged instead of re-training would hash-fail.
    */
  def q170FunnelSpliced(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipelines.{CurationFunnel, FunnelStage}
    val std = CurationFunnel.standardStages("doc_id", "text",
      col("lang") === "en", col("lang").isNotNull && col("lang") =!= "en",
      TextQueries.Q127Th, FunnelLmKeepPct)
    val decon = FunnelStage("decontaminated", (surv, raw) =>
      graft.operators.dedup.Decontaminate.flag(surv,
        raw.filter(col("doc_id") % FunnelBenchMod === 0), "doc_id", "text",
        shingleN = FunnelDeconN)
        .filter(!col("contaminated")).select(col("doc_id")))
    // after rules, before lm: downstream models see decontaminated data
    val chain = std.take(2) ++ Seq(decon) ++ std.drop(2)
    CurationFunnel.stagesOf(Tables.documents(spark, dir), "doc_id", "text",
      chain)
  }

  def q170Oracle: String = {
    val norm = """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""
    val d2From = "SELECT b.doc_id, b.text FROM fb b JOIN fd1 USING (doc_id)"
    val d3From =
      "(SELECT b.doc_id, b.lang, b.text FROM fb b JOIN fdec USING (doc_id))"
    val d4From =
      "(SELECT b.doc_id, b.lang, b.text FROM fb b JOIN fd3 USING (doc_id))"
    s"""WITH fb AS (
       |  SELECT doc_id, lang, text, $norm AS norm
       |  FROM documents WHERE doc_id IS NOT NULL
       |), fvalid AS (
       |  SELECT * FROM fb WHERE text IS NOT NULL AND length(norm) > 0
       |), fd1 AS (
       |  SELECT MIN(doc_id) AS doc_id FROM fvalid GROUP BY md5(norm)
       |),
       |${TextQueries.qualityCtes(d2From, TextQueries.Q127Th)},
       |fd2 AS (
       |  SELECT doc_id FROM qrstats
       |  WHERE ${TextQueries.qualityPassedSql(TextQueries.Q127Th)}
       |),
       |${shingleHashListCtes("db",
          s"(SELECT doc_id, text FROM documents WHERE doc_id % $FunnelBenchMod = 0)",
          FunnelDeconN)},
       |${shingleHashListCtes("dt",
          "(SELECT b.doc_id, b.text FROM fb b JOIN fd2 USING (doc_id))",
          FunnelDeconN)},
       |dbh AS (
       |  SELECT DISTINCT unnest(hashes) AS h FROM dbshl
       |), dth AS (
       |  SELECT doc_id, unnest(hashes) AS h FROM dtshl
       |), dhits AS (
       |  SELECT doc_id, COUNT(DISTINCT h) AS nh FROM dth JOIN dbh USING (h)
       |  GROUP BY 1
       |), fdec AS (
       |  SELECT f.doc_id FROM fd2 f LEFT JOIN dhits USING (doc_id)
       |  WHERE COALESCE(nh, 0) = 0
       |),
       |${lmSptCtes("fl", "lang = 'en'", d3From)},
       |flnn AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM flspt
       |), flcum AS (
       |  SELECT v, SUM(c) OVER (ORDER BY v) AS cum
       |  FROM (SELECT lm_score_per_tok AS v, COUNT(*) AS c FROM flspt GROUP BY 1) t
       |), flthr AS (
       |  SELECT MIN(v) AS t FROM flcum CROSS JOIN flnn
       |  WHERE cum >= n - ((n * $FunnelLmKeepPct) // 100) + 1
       |), fd3 AS (
       |  SELECT doc_id FROM flspt CROSS JOIN flthr WHERE lm_score_per_tok >= t
       |),
       |${nbCtes("fn", "lang = 'en'", "lang IS NOT NULL AND lang <> 'en'",
         "documents", d4From)},
       |fd4 AS (
       |  SELECT doc_id FROM fnnbsc WHERE pos_score > neg_score
       |)
       |SELECT b.doc_id,
       |  CASE WHEN b.doc_id NOT IN (SELECT doc_id FROM fvalid) THEN 'invalid'
       |       WHEN b.doc_id NOT IN (SELECT doc_id FROM fd1) THEN 'exact_dedup'
       |       WHEN b.doc_id NOT IN (SELECT doc_id FROM fd2) THEN 'rules'
       |       WHEN b.doc_id NOT IN (SELECT doc_id FROM fdec) THEN 'decontaminated'
       |       WHEN b.doc_id NOT IN (SELECT doc_id FROM fd3) THEN 'lm'
       |       WHEN b.doc_id NOT IN (SELECT doc_id FROM fd4) THEN 'classifier'
       |       ELSE 'kept' END AS stage
       |FROM fb b""".stripMargin
  }

  /** q177's PII saturation threshold: > 2 spans drops the document. */
  val PiiFunnelMax = 2

  /** q177: PII-SPLICED funnel — the second production splice through
    * q170's pluggable-stage machinery (the RefinedWeb/FineWeb
    * discipline: PII scrubbing is a curation STAGE, not a post-hoc
    * transform): [[graft.pipelines.CurationFunnel.piiStage]] drops
    * PII-saturated documents (> [[PiiFunnelMax]] spans across emails /
    * phones / ID numbers / IPv4s) between `exact_dedup` and `rules`,
    * so the rules statistics, the LM's training stratum and the NB
    * fit all see the PII-cleaned corpus. The corpus plants PII via
    * [[ExtraQueries.piiSuffix]] (saturated every ~7th doc, one email
    * every ~5th), and the oracle replays the ENTIRE re-ordered cascade
    * over the concatenated text — fingerprints, PII counts, rules, the
    * retrained LM, the NB fit — so a funnel that merely flagged, or a
    * count that drifted one span, hash-fails.
    */
  def q177PiiFunnel(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipelines.CurationFunnel
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"),
      concat(col("text"), ExtraQueries.piiSuffix).as("text"))
    val std = CurationFunnel.standardStages("doc_id", "text",
      col("lang") === "en", col("lang").isNotNull && col("lang") =!= "en",
      TextQueries.Q127Th, FunnelLmKeepPct)
    // after exact_dedup, before rules: everything downstream trains on
    // the PII-cleaned corpus
    val chain = std.take(1) ++
      Seq(CurationFunnel.piiStage("doc_id", "text", PiiFunnelMax)) ++
      std.drop(1)
    CurationFunnel.stagesOf(docs, "doc_id", "text", chain)
  }

  def q177Oracle: String = {
    val norm = """trim(regexp_replace(lower(t), '\s+', ' ', 'g'))"""
    val piiTotal = graft.functions.TextFns.PiiChain.map { case (p, _) =>
      s"len(regexp_extract_all(b.text, '$p'))"
    }.mkString(" + ")
    val d2From = "SELECT b.doc_id, b.text FROM fb b JOIN fpii USING (doc_id)"
    val d3From =
      "(SELECT b.doc_id, b.lang, b.text FROM fb b JOIN fd2 USING (doc_id))"
    val d4From =
      "(SELECT b.doc_id, b.lang, b.text FROM fb b JOIN fd3 USING (doc_id))"
    val rawFrom =
      s"(SELECT doc_id, lang, text || $piiSuffixSqlIndented AS text FROM documents)"
    s"""WITH fb AS (
       |  SELECT doc_id, lang, t AS text, $norm AS norm
       |  FROM (SELECT doc_id, lang, text || $piiSuffixSqlIndented AS t
       |        FROM documents WHERE doc_id IS NOT NULL)
       |), fvalid AS (
       |  SELECT * FROM fb WHERE text IS NOT NULL AND length(norm) > 0
       |), fd1 AS (
       |  SELECT MIN(doc_id) AS doc_id FROM fvalid GROUP BY md5(norm)
       |), fpii AS (
       |  SELECT b.doc_id FROM fb b JOIN fd1 USING (doc_id)
       |  WHERE $piiTotal <= $PiiFunnelMax
       |),
       |${TextQueries.qualityCtes(d2From, TextQueries.Q127Th)},
       |fd2 AS (
       |  SELECT doc_id FROM qrstats
       |  WHERE ${TextQueries.qualityPassedSql(TextQueries.Q127Th)}
       |),
       |${lmSptCtes("fl", "lang = 'en'", d3From)},
       |flnn AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM flspt
       |), flcum AS (
       |  SELECT v, SUM(c) OVER (ORDER BY v) AS cum
       |  FROM (SELECT lm_score_per_tok AS v, COUNT(*) AS c FROM flspt GROUP BY 1) t
       |), flthr AS (
       |  SELECT MIN(v) AS t FROM flcum CROSS JOIN flnn
       |  WHERE cum >= n - ((n * $FunnelLmKeepPct) // 100) + 1
       |), fd3 AS (
       |  SELECT doc_id FROM flspt CROSS JOIN flthr WHERE lm_score_per_tok >= t
       |),
       |${nbCtes("fn", "lang = 'en'", "lang IS NOT NULL AND lang <> 'en'",
         rawFrom, d4From)},
       |fd4 AS (
       |  SELECT doc_id FROM fnnbsc WHERE pos_score > neg_score
       |)
       |SELECT b.doc_id,
       |  CASE WHEN b.doc_id NOT IN (SELECT doc_id FROM fvalid) THEN 'invalid'
       |       WHEN b.doc_id NOT IN (SELECT doc_id FROM fd1) THEN 'exact_dedup'
       |       WHEN b.doc_id NOT IN (SELECT doc_id FROM fpii) THEN 'pii'
       |       WHEN b.doc_id NOT IN (SELECT doc_id FROM fd2) THEN 'rules'
       |       WHEN b.doc_id NOT IN (SELECT doc_id FROM fd3) THEN 'lm'
       |       WHEN b.doc_id NOT IN (SELECT doc_id FROM fd4) THEN 'classifier'
       |       ELSE 'kept' END AS stage
       |FROM fb b""".stripMargin
  }

  /** [[ExtraQueries.piiSuffixSql]] with its newlines flattened — it
    * embeds mid-expression here.
    */
  private def piiSuffixSqlIndented: String =
    ExtraQueries.piiSuffixSql.linesIterator.map(_.trim).mkString(" ")

  /** q165: shard export INTEGRITY stats — q157's manifest reduced to
    * the per-shard audit table (count, min/max/xor of the 52-bit order
    * hashes) a byte-reproducible export ships beside its shards: any
    * dropped/duplicated/substituted id flips n_docs and/or xor_key in
    * exactly its shard, order-free. The oracle replays both hashes and
    * all four aggregates. See [[graft.operators.Sharding.shardStats]].
    */
  def q165ShardStats(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sharding.shardStats(
      Tables.documents(spark, dir).select(col("doc_id")),
      "doc_id", ShardCount)

  def q165Oracle: String =
    s"""WITH a AS (
       |  SELECT
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 8) AS BIGINT)
       |      % $ShardCount AS shard,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':order'), 1, 13) AS BIGINT)
       |      AS sort_key
       |  FROM documents
       |)
       |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  MIN(sort_key) AS min_key, MAX(sort_key) AS max_key,
       |  BIT_XOR(sort_key) AS xor_key
       |FROM a GROUP BY 1""".stripMargin

  /** q157: deterministic training-shard export manifest — every document
    * assigned to one of [[ShardCount]] shards by salted md5, ordered
    * within its shard by an independent 52-bit md5 sort key, `seq` the
    * 1-based final position in the shard file. The oracle replays the
    * hashes digit-for-digit and the rank as a per-shard row_number.
    * See [[graft.operators.Sharding]] for the scale shape (projection +
    * GlobalRank two-phase rank — no single-partition window).
    *
    * Null-id contract (q157 AND q165, intentionally unlike the other
    * documents oracles' `doc_id IS NOT NULL` convention): an export
    * manifest must account for EVERY document, so Sharding raise_errors
    * on a null id rather than silently dropping or NULL-bucketing it.
    * The oracles deliberately do NOT null-filter either — if the corpus
    * generator ever emits a null doc_id the Spark side fails LOUDLY and
    * the gate reads as an error to investigate, never as a clean pass
    * over a silently nulled shard row.
    */
  val ShardCount = 8

  def q157TrainShards(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sharding.manifest(
      Tables.documents(spark, dir).select(col("doc_id")),
      "doc_id", ShardCount)

  def q157Oracle: String =
    s"""WITH a AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 8) AS BIGINT)
       |      % $ShardCount AS shard,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':order'), 1, 13) AS BIGINT)
       |      AS sort_key
       |  FROM documents
       |)
       |SELECT doc_id, shard, sort_key,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY sort_key, doc_id)
       |    AS BIGINT) AS seq
       |FROM a""".stripMargin
}
