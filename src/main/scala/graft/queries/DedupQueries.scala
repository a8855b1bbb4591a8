package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.dedup.{DupClusters, EditDistance, ExactDedup, MinHashLSH, NGramJaccard, SimHash}

/** Deduplication queries over the documents table (SURVEY §2 items 30-33).
  * Oracle SQL shares one set of CTEs so the DuckDB shingle/hash pipeline is
  * literally the same formula as the Spark one.
  */
object DedupQueries {

  // trim AFTER collapsing, mirroring TextFns.normalizeText: trim strips
  // ASCII spaces only, so the collapse must turn tabs/newlines into spaces
  // before the trim can remove them at the edges
  private val NormSql = """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""

  /** Common shingle-hash CTEs (DuckDB). Mirrors TextShingles.shingleHashes.
    * Null-text docs are excluded up front on BOTH sides (the near-dup
    * operators filter them): a null document has no shingles, and keeping
    * it would diverge — Spark carries a null array through while DuckDB's
    * list functions silently drop the doc.
    */
  private def shingleCtesN(n: Int): String =
    s"""WITH docs AS (
       |  SELECT doc_id, text, $NormSql AS norm FROM documents WHERE text IS NOT NULL
       |), toks AS (
       |  SELECT doc_id, norm, string_split(norm, ' ') AS t FROM docs
       |), sh AS (
       |  SELECT doc_id, CASE WHEN len(t) >= $n
       |    THEN list_transform(range(len(t)-${n - 1}), i -> array_to_string(t[i+1:i+$n], ' '))
       |    ELSE [norm] END AS shingles
       |  FROM toks
       |), hl AS (
       |  SELECT doc_id, list_distinct(list_transform(shingles,
       |    s -> CAST('0x' || substr(md5(s),1,8) AS BIGINT) % 2147483647)) AS hashes
       |  FROM sh
       |)""".stripMargin

  private val ShingleCtes = shingleCtesN(3)

  def q20DedupExact(spark: SparkSession, dir: String): DataFrame =
    ExactDedup.groups(Tables.documents(spark, dir), "doc_id", "text")

  def q20Oracle: String =
    s"""SELECT md5($NormSql) AS fingerprint,
       |  MIN(doc_id) AS survivor_doc_id,
       |  COUNT(*) AS dup_count,
       |  CAST(MIN(length(text)) AS INTEGER) AS min_len,
       |  CAST(MAX(length(text)) AS INTEGER) AS max_len
       |FROM documents
       |GROUP BY 1""".stripMargin

  def q21NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    NGramJaccard.pairs(Tables.documents(spark, dir), "doc_id", "text",
      threshold = 0.1)

  def q21Oracle: String =
    s"""$ShingleCtes,
       |hs AS (SELECT doc_id, unnest(hashes) AS h FROM hl),
       |kept AS (
       |  SELECT doc_id, h FROM (
       |    SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM hs
       |  ) WHERE df <= ${NGramJaccard.DefaultMaxShingleDocFreq}
       |),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
       |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, n_shared,
       |  CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
       |FROM shared
       |JOIN sizes sa ON doc_a = sa.doc_id
       |JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.1""".stripMargin

  def q22MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    MinHashLSH.candidatePairs(Tables.documents(spark, dir), "doc_id", "text")

  /** LSH candidate-pair CTEs (sig → bands → pairs), shared by q22 and the
    * edit-distance verify (q75) so both replay the identical banding.
    */
  private def candidatePairCtes: String = {
    val sigTerms = MinHashLSH.As.zip(MinHashLSH.Bs).map { case (a, b) =>
      s"list_min(list_transform(hashes, h -> ($a * h + $b) % 2147483647))"
    }.mkString(",\n    ")
    val r = MinHashLSH.RowsPerBand
    val bandValues = (0 until MinHashLSH.Bands).map(b => s"($b)").mkString(", ")
    s"""$ShingleCtes,
       |sig AS (
       |  SELECT doc_id, [$sigTerms] AS sig FROM hl
       |), bands AS (
       |  SELECT doc_id, band_id, band_key FROM (
       |    SELECT doc_id, u.i AS band_id,
       |      array_to_string(list_transform(sig[$r*u.i+1:$r*u.i+$r], x -> CAST(x AS VARCHAR)), '-') AS band_key,
       |      COUNT(*) OVER (PARTITION BY u.i,
       |        array_to_string(list_transform(sig[$r*u.i+1:$r*u.i+$r], x -> CAST(x AS VARCHAR)), '-')) AS bucket_size
       |    FROM sig CROSS JOIN (VALUES $bandValues) AS u(i)
       |  ) WHERE bucket_size <= ${MinHashLSH.DefaultMaxBucketSize}
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |)""".stripMargin
  }

  def q22Oracle: String =
    s"""$candidatePairCtes
       |SELECT p.doc_a, p.doc_b,
       |  CAST(list_sum(list_transform(range(${MinHashLSH.NumHashes}),
       |    i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / ${MinHashLSH.NumHashes}.0 AS est_jaccard
       |FROM pairs p
       |JOIN sig sa ON p.doc_a = sa.doc_id
       |JOIN sig sb ON p.doc_b = sb.doc_id""".stripMargin

  /** q75: character-grain near-dup — [[EditDistance.nearPairs]]'s blocked
    * (LSH-candidate) Levenshtein verify, threshold 20 edits on the
    * lowercased text (the corpus's near-dup pairs sit at ≤8 edits,
    * unrelated candidates at ≥38 — the gap q21's token-level Jaccard
    * cannot see character-grain).
    */
  def q75EditPairs(spark: SparkSession, dir: String): DataFrame =
    EditDistance.nearPairs(Tables.documents(spark, dir), "doc_id", "text",
      maxDist = 20)

  /** q92: incremental against-history dedup
    * ([[graft.operators.dedup.IncrementalDedup]]) — the daily-ingest
    * shape: an md5-parity split plays "history" vs "today's batch";
    * today dedupes within itself (min-id survivor) and against history's
    * FINGERPRINT SET only — history text is never re-read. Null-text
    * docs survive as themselves.
    */
  def q92IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    import graft.operators.dedup.IncrementalDedup
    val docs = Tables.documents(spark, dir)
    val isHistory = Sampling.hashBucket(
      org.apache.spark.sql.functions.col("doc_id"), 2, ":hist") === 0
    IncrementalDedup.newDocs(
        docs.filter(!isHistory),
        IncrementalDedup.fingerprints(docs.filter(isHistory), "text"),
        "doc_id", "text")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("fingerprint"),
        org.apache.spark.sql.functions.col("n_chars"))
  }

  def q92Oracle: String =
    s"""WITH tagged AS (
       |  SELECT doc_id, n_chars,
       |    CASE WHEN text IS NULL THEN NULL ELSE md5($NormSql) END AS fingerprint,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':hist'), 1, 8) AS BIGINT) % 2 = 0 AS is_hist
       |  FROM documents
       |), h AS (
       |  SELECT DISTINCT fingerprint FROM tagged WHERE is_hist AND fingerprint IS NOT NULL
       |), today AS (
       |  SELECT * FROM tagged WHERE NOT is_hist
       |), surv AS (
       |  SELECT doc_id, fingerprint, n_chars,
       |    row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
       |  FROM today WHERE fingerprint IS NOT NULL
       |)
       |SELECT doc_id, fingerprint, n_chars FROM surv
       |WHERE rn = 1 AND fingerprint NOT IN (SELECT fingerprint FROM h)
       |UNION ALL
       |SELECT doc_id, fingerprint, n_chars FROM today WHERE fingerprint IS NULL""".stripMargin

  def q75Oracle: String =
    s"""$candidatePairCtes,
       |txt AS (SELECT doc_id, lower(text) AS t FROM documents WHERE text IS NOT NULL)
       |SELECT p.doc_a, p.doc_b,
       |  CAST(levenshtein(ta.t, tb.t) AS INTEGER) AS edit_dist
       |FROM pairs p
       |JOIN txt ta ON p.doc_a = ta.doc_id
       |JOIN txt tb ON p.doc_b = tb.doc_id
       |WHERE levenshtein(ta.t, tb.t) <= 20""".stripMargin

  /** q52: duplicate clusters — connected components over q21's exact
    * near-dup pairs; survivor = min doc_id per component. The oracle
    * computes the same transitive closure with a recursive CTE; both sides
    * reach the identical unique fixpoint.
    */
  def q52DupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = NGramJaccard.pairs(Tables.documents(spark, dir),
      "doc_id", "text", threshold = 0.1)
    DupClusters.components(pairs, "doc_a", "doc_b")
      .select(org.apache.spark.sql.functions.col("node").as("doc_id"),
        org.apache.spark.sql.functions.col("cluster_rep"),
        org.apache.spark.sql.functions.col("cluster_size"))
  }

  /** The q52 transitive-closure chain (hs → … → comp(doc_id,
    * cluster_rep) at the q21 0.1 threshold), spliced after [[ShingleCtes]]
    * under WITH RECURSIVE — shared by q52 and q148 so the quality-aware
    * dedup's cluster replay is definitionally q52's.
    */
  private def ccCtes: String =
    s"""hs AS (SELECT doc_id, unnest(hashes) AS h FROM hl),
       |kept AS (
       |  SELECT doc_id, h FROM (
       |    SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM hs
       |  ) WHERE df <= ${NGramJaccard.DefaultMaxShingleDocFreq}
       |),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
       |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |jpairs AS (
       |  SELECT doc_a, doc_b FROM shared
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.1
       |),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM jpairs
       |  UNION SELECT doc_b, doc_a FROM jpairs
       |),
       |reach AS (
       |  SELECT src AS node, dst AS r FROM edges
       |  UNION
       |  SELECT rc.node, e.dst FROM reach rc JOIN edges e ON rc.r = e.src
       |),
       |comp AS (
       |  SELECT node AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY node
       |)""".stripMargin

  def q52Oracle: String =
    s"""${ShingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$ccCtes
       |SELECT c.doc_id, c.cluster_rep, cnt.cluster_size
       |FROM comp c
       |JOIN (SELECT cluster_rep, COUNT(*) AS cluster_size
       |      FROM comp GROUP BY 1) cnt USING (cluster_rep)""".stripMargin

  /** The q27 quality-score CTE chain over `documents`, ending in
    * `qual(doc_id, quality_score)` — byte-identical arithmetic to the
    * q27 gate (plain string: the regexes carry backslashes that must not
    * hit the s-interpolator).
    */
  private val QualityCtes =
    """qbase AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
      |         ELSE CAST(len(regexp_extract_all(trim(text), '\S+')) AS INTEGER) END AS n_tokens,
      |    CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0
      |         ELSE CAST(len(regexp_extract_all(lower(text), '[a-z]')) AS DOUBLE) / length(text) END AS alpha_ratio,
      |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it)\b')) AS INTEGER) AS n_stops
      |  FROM documents
      |), qual AS (
      |  SELECT doc_id,
      |    0.4 * alpha_ratio
      |      + 0.3 * (CASE WHEN n_tokens = 0 THEN 0.0 ELSE LEAST(1.0, CAST(n_stops AS DOUBLE) / n_tokens) END)
      |      + 0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) AS quality_score
      |  FROM qbase
      |)""".stripMargin

  /** q148: QUALITY-AWARE cluster dedup
    * ([[graft.operators.dedup.QualityDedup]] — the FineWeb-style keep-
    * best-per-near-dup-cluster decision): q52's transitive clusters +
    * q27's quality score, one winner per cluster by (quality DESC,
    * doc_id ASC) via TopK's k=1 partial agg; singletons and null-text
    * docs kept. The oracle replays the ENTIRE composition — shingle
    * hashes, df-capped candidates, exact Jaccard, the recursive closure,
    * the quality arithmetic, and the argmax — so a survivor chosen by id
    * instead of quality (or a boundary-split cluster) hash-fails.
    */
  def q148QualityDedup(spark: SparkSession, dir: String): DataFrame =
    graft.operators.dedup.QualityDedup.keepBest(
      Tables.documents(spark, dir), "doc_id", "text", threshold = 0.1)

  def q148Oracle: String =
    s"""${ShingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$ccCtes,
       |$QualityCtes,
       |csz AS (SELECT cluster_rep, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
       |SELECT c.doc_id, c.cluster_rep, z.cluster_size, q.quality_score,
       |  (row_number() OVER (PARTITION BY c.cluster_rep
       |     ORDER BY q.quality_score DESC, c.doc_id ASC)) = 1 AS kept
       |FROM comp c
       |JOIN csz z USING (cluster_rep)
       |JOIN qual q USING (doc_id)
       |UNION ALL
       |SELECT q.doc_id, q.doc_id AS cluster_rep, CAST(1 AS BIGINT) AS cluster_size,
       |  q.quality_score, TRUE AS kept
       |FROM qual q LEFT JOIN comp c USING (doc_id)
       |WHERE c.doc_id IS NULL""".stripMargin

  /** q65: the full dedup pipeline end-to-end — LSH candidates, exact
    * Jaccard verify, connected components, survivor selection
    * ([[graft.operators.dedup.DedupPipeline]]); one row per document with
    * its surviving representative.
    */
  val DedupThreshold = 0.4

  def q65DedupPipeline(spark: SparkSession, dir: String): DataFrame =
    graft.operators.dedup.DedupPipeline.dedupe(
      Tables.documents(spark, dir), "doc_id", "text", DedupThreshold)

  /** The banded two-stage closure as a CTE chain (after [[ShingleCtes]]'
    * `hl`): minhash signatures → band buckets (size-guarded) → candidate
    * pairs → exact-Jaccard verify at `threshold` → recursive transitive
    * closure, ending in `comp(doc_id, cluster_rep)`. Replays
    * [[MinHashLSH.verifiedPairs]] + [[DupClusters]] — shared by q65 (the
    * survivor pipeline) and q153 (the banded quality-dedup arm), so the
    * banded arm's replay is definitionally the pipeline gate's.
    */
  private def bandedCompCtes(threshold: Double): String = {
    val sigTerms = MinHashLSH.As.zip(MinHashLSH.Bs).map { case (a, b) =>
      s"list_min(list_transform(hashes, h -> ($a * h + $b) % 2147483647))"
    }.mkString(",\n    ")
    val r = MinHashLSH.RowsPerBand
    val bandValues = (0 until MinHashLSH.Bands).map(b => s"($b)").mkString(", ")
    s"""sig AS (
       |  SELECT doc_id, [$sigTerms] AS sig FROM hl
       |), bands AS (
       |  SELECT doc_id, band_id, band_key FROM (
       |    SELECT doc_id, u.i AS band_id,
       |      array_to_string(list_transform(sig[$r*u.i+1:$r*u.i+$r], x -> CAST(x AS VARCHAR)), '-') AS band_key,
       |      COUNT(*) OVER (PARTITION BY u.i,
       |        array_to_string(list_transform(sig[$r*u.i+1:$r*u.i+$r], x -> CAST(x AS VARCHAR)), '-')) AS bucket_size
       |    FROM sig CROSS JOIN (VALUES $bandValues) AS u(i)
       |  ) WHERE bucket_size <= ${MinHashLSH.DefaultMaxBucketSize}
       |), cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |), verified AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT c.doc_a, c.doc_b,
       |      CAST(len(list_intersect(ha.hashes, hb.hashes)) AS DOUBLE) /
       |        (len(ha.hashes) + len(hb.hashes) - len(list_intersect(ha.hashes, hb.hashes))) AS jaccard
       |    FROM cands c
       |    JOIN hl ha ON c.doc_a = ha.doc_id
       |    JOIN hl hb ON c.doc_b = hb.doc_id
       |  ) WHERE jaccard >= $threshold
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM verified
       |  UNION SELECT doc_b, doc_a FROM verified
       |), reach AS (
       |  SELECT src AS node, dst AS rr FROM edges
       |  UNION
       |  SELECT rc.node, e.dst FROM reach rc JOIN edges e ON rc.rr = e.src
       |), comp AS (
       |  SELECT node AS doc_id, MIN(rr) AS cluster_rep FROM reach GROUP BY node
       |)""".stripMargin
  }

  def q65Oracle: String =
    s"""${ShingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |${bandedCompCtes(DedupThreshold)}
       |SELECT d.doc_id,
       |  COALESCE(comp.cluster_rep, d.doc_id) AS survivor_doc_id,
       |  d.doc_id = COALESCE(comp.cluster_rep, d.doc_id) AS is_survivor
       |FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id""".stripMargin

  /** q153: the BANDED arm of quality-aware cluster dedup
    * ([[graft.operators.dedup.QualityDedup.keepBest]] with
    * `banded = true` — the wide-corpus routing the q148 100× probe
    * motivates): candidate pairs come from MinHash-LSH banding + exact
    * verify (q65's two-stage) instead of the exact df-capped shingle
    * join; clusters, quality, and the per-cluster argmax are q148's.
    * Same threshold as q148 so the two arms differ ONLY in candidate
    * recall (measured in QualityDedupSpec). The oracle splices q65's
    * banded-closure replay into q148's quality/argmax readout.
    */
  def q153QualityDedupBanded(spark: SparkSession, dir: String): DataFrame =
    graft.operators.dedup.QualityDedup.keepBest(
      Tables.documents(spark, dir), "doc_id", "text", threshold = 0.1,
      banded = true)

  def q153Oracle: String =
    s"""${ShingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |${bandedCompCtes(0.1)},
       |$QualityCtes,
       |csz AS (SELECT cluster_rep, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
       |SELECT c.doc_id, c.cluster_rep, z.cluster_size, q.quality_score,
       |  (row_number() OVER (PARTITION BY c.cluster_rep
       |     ORDER BY q.quality_score DESC, c.doc_id ASC)) = 1 AS kept
       |FROM comp c
       |JOIN csz z USING (cluster_rep)
       |JOIN qual q USING (doc_id)
       |UNION ALL
       |SELECT q.doc_id, q.doc_id AS cluster_rep, CAST(1 AS BIGINT) AS cluster_size,
       |  q.quality_score, TRUE AS kept
       |FROM qual q LEFT JOIN comp c USING (doc_id)
       |WHERE c.doc_id IS NULL""".stripMargin

  def q23Simhash(spark: SparkSession, dir: String): DataFrame =
    SimHash.signatures(Tables.documents(spark, dir), "doc_id", "text")

  def q23Oracle: String = {
    val bitSums = (0 until SimHash.Bits)
      .map(b => s"SUM((h >> $b) & 1) AS bit_$b").mkString(",\n    ")
    val simTerms = (0 until SimHash.Bits)
      .map(b => s"CASE WHEN 2 * bit_$b > n_features THEN ${1L << b} ELSE 0 END")
      .mkString(" +\n    ")
    s"""$ShingleCtes,
       |hs AS (SELECT doc_id, unnest(hashes) AS h FROM hl),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_features,
       |    $bitSums
       |  FROM hs GROUP BY doc_id
       |)
       |SELECT doc_id, CAST($simTerms AS BIGINT) AS simhash, n_features
       |FROM agg""".stripMargin
  }

  /** q109: C4-style corpus line cleaning ([[graft.operators.dedup.LineDedup]],
    * SURVEY 30b). Lines are deterministic token BIGRAMS of each document
    * (pair tokens (2i−1, 2i) in order; an odd tail token forms its own
    * line), which on this corpus yields a non-degenerate document-frequency
    * distribution at every shipped SF (some lines boilerplate, most not).
    * The boilerplate threshold is 35‰ of the corpus document count —
    * exact integer arithmetic. The DuckDB oracle rebuilds the bigram
    * lines, the per-doc first-occurrence pass, the document-frequency
    * filter, and the '\n' reassembly from raw `documents`.
    */
  def q109LineClean(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("lines", expr(
        """transform(sequence(1, (size(__toks) + 1) div 2),
          |  i -> CASE WHEN 2 * i <= size(__toks)
          |            THEN concat(element_at(__toks, CAST(2 * i - 1 AS INT)), ' ',
          |                        element_at(__toks, CAST(2 * i AS INT)))
          |            ELSE element_at(__toks, CAST(2 * i - 1 AS INT)) END)""".stripMargin))
      .select(col("doc_id"), col("lines"))
    graft.operators.dedup.LineDedup.cleanRelative(docs, "doc_id", "lines",
      permilleOfDocs = 35)
  }

  /** q123: benchmark n-gram DECONTAMINATION
    * ([[graft.operators.dedup.Decontaminate]] — the GPT-3/Pile
    * discipline, the n-gram-grain complement of q50's whole-document
    * audit): a deterministic benchmark stratum (doc_id % 11 == 0) flags
    * the remaining corpus at shingle grain through one broadcast join.
    * The oracle replays the shingle hashing, the benchmark's distinct
    * hash set, and every per-doc distinct-hit count — a document flagged
    * for sharing 3-grams with a benchmark page it partially quotes is
    * exactly what whole-doc fingerprints cannot see.
    */
  /** The gate runs BOTH width regimes — n=3 (the aggressive default) and
    * n=8 (the GPT-3-appendix-C production grain) — tagged by `shingle_n`,
    * so the width knob itself is oracle-verified, not just the default.
    */
  def q123Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    val train = docs.filter(col("doc_id") % 11 =!= 0)
    val bench = docs.filter(col("doc_id") % 11 === 0)
    Seq(3, 8).map { n =>
      graft.operators.dedup.Decontaminate.flag(train, bench, "doc_id", "text", n)
        .withColumn("shingle_n", lit(n))
    }.reduce(_ unionByName _)
  }

  private def q123ArmSql(n: Int): String =
    s"""(${shingleCtesN(n)},
       |bh AS (
       |  SELECT DISTINCT unnest(hashes) AS h FROM hl WHERE doc_id % 11 = 0
       |), th AS (
       |  SELECT doc_id, unnest(hashes) AS h FROM hl WHERE doc_id % 11 <> 0
       |), hits AS (
       |  SELECT doc_id, COUNT(DISTINCT h) AS n_hits
       |  FROM th JOIN bh USING (h) GROUP BY 1
       |)
       |SELECT d.doc_id, COALESCE(hits.n_hits, 0) AS n_hits,
       |  COALESCE(hits.n_hits, 0) > 0 AS contaminated, $n AS shingle_n
       |FROM (SELECT doc_id FROM documents
       |      WHERE doc_id IS NOT NULL AND doc_id % 11 <> 0) d
       |LEFT JOIN hits USING (doc_id))""".stripMargin

  def q123Oracle: String =
    s"""SELECT * FROM ${q123ArmSql(3)}
       |UNION ALL
       |SELECT * FROM ${q123ArmSql(8)}""".stripMargin

  /** q129: EXACT-SUBSTRING span removal
    * ([[graft.operators.dedup.SpanDedup]], Lee et al. 2021 ExactSubstr —
    * the span-grain dedup none of the whole-document family covers:
    * duplicated 5-token windows are cut from every document, the rest
    * kept). 5-token spans because the synthetic docs are ~300 tokens
    * (the paper's 50-token spans would never fire here); at sf0.01 the
    * corpus carries ~1.1k duplicated 5-grams across ~2.3k positions, so
    * removal genuinely bites. The oracle replays window hashes, the
    * corpus-wide occurrence counts, every duplicated position, and the
    * token-level reconstruction.
    */
  def q129SpanDedup(spark: SparkSession, dir: String): DataFrame =
    graft.operators.dedup.SpanDedup.removeDuplicateSpans(
      Tables.documents(spark, dir), "doc_id", "text", spanTokens = 5)

  def q129Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
      |), tt AS (
      |  SELECT doc_id, norm, string_split(norm, ' ') AS w
      |  FROM t WHERE length(norm) > 0
      |), g AS (
      |  SELECT doc_id, i AS pos,
      |    CAST('0x' || substr(md5(array_to_string(w[i+1:i+5], ' ')), 1, 8) AS BIGINT) % 2147483647 AS h
      |  FROM tt, unnest(range(len(w) - 4)) AS u(i)
      |  WHERE len(w) >= 5
      |), dups AS (
      |  SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2
      |), dp AS (
      |  SELECT doc_id, list(pos) AS dup FROM g JOIN dups USING (h) GROUP BY doc_id
      |), rec AS (
      |  SELECT tt.doc_id, tt.w, COALESCE(dp.dup, CAST([] AS BIGINT[])) AS dup
      |  FROM tt LEFT JOIN dp USING (doc_id)
      |)
      |SELECT doc_id,
      |  CAST(len(w) AS BIGINT) AS n_tokens,
      |  CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
      |  COALESCE(array_to_string(kept, ' '), '') AS clean_text
      |FROM (
      |  SELECT doc_id, w,
      |    list_filter(w, (x, i) ->
      |      len(list_filter(dup, p -> p <= i - 1 AND i - 1 <= p + 4)) = 0) AS kept
      |  FROM rec) q""".stripMargin

  /** q130: the SPAN-GRAIN curation chain
    * ([[graft.pipelines.CurationPipeline.runSpanGrain]] — q122's sibling
    * composing the round-13 additions in production order: per-source cap
    * (q128) → exact-substring span removal over the CAPPED corpus (q129)
    * → Gopher rule filter over the CLEANED text (q127) → exact dedup on
    * the cleaned fingerprint → deterministic split). The DuckDB oracle
    * replays the WHOLE chain — the per-source hash rank, the span hashes
    * counted over capped survivors only, every rule statistic on the
    * reconstructed text, the dedup window, the split buckets — so a
    * mis-ordered stage (span counts over the uncapped corpus, rules on
    * raw text) hash-fails.
    */
  def q130SpanCuration(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.CurationPipeline.runSpanGrain(
      Tables.documents(spark, dir), "doc_id", "text", "source",
      cap = 15, spanTokens = 5, th = TextQueries.Q127Th, trainPct = 90)

  def q130Oracle: String =
    s"""WITH ranked AS (
       |  SELECT doc_id, source, text,
       |    row_number() OVER (PARTITION BY COALESCE(source, '<null>') ORDER BY
       |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cap'), 1, 13) AS BIGINT) ASC,
       |      doc_id ASC) AS rn
       |  FROM documents WHERE doc_id IS NOT NULL
       |), capped AS (
       |  SELECT doc_id, source, text FROM ranked WHERE rn <= 15
       |), spt AS (
       |  SELECT doc_id, source, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
       |  FROM capped WHERE text IS NOT NULL
       |), sptt AS (
       |  SELECT doc_id, source, norm, string_split(norm, ' ') AS w
       |  FROM spt WHERE length(norm) > 0
       |), spg AS (
       |  SELECT doc_id, i AS pos,
       |    CAST('0x' || substr(md5(array_to_string(w[i+1:i+5], ' ')), 1, 8) AS BIGINT) % 2147483647 AS h
       |  FROM sptt, unnest(range(len(w) - 4)) AS u(i)
       |  WHERE len(w) >= 5
       |), spdups AS (
       |  SELECT h FROM spg GROUP BY h HAVING COUNT(*) >= 2
       |), spdp AS (
       |  SELECT doc_id, list(pos) AS dup FROM spg JOIN spdups USING (h) GROUP BY doc_id
       |), cleaned AS MATERIALIZED (
       |  SELECT doc_id, source,
       |    CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
       |    COALESCE(array_to_string(kept, ' '), '') AS ct
       |  FROM (
       |    SELECT s.doc_id, s.source, s.w,
       |      list_filter(s.w, (x, i) ->
       |        len(list_filter(COALESCE(d.dup, CAST([] AS BIGINT[])),
       |          p -> p <= i - 1 AND i - 1 <= p + 4)) = 0) AS kept
       |    FROM sptt s LEFT JOIN spdp d USING (doc_id)) q
       |),
       |${TextQueries.qualityCtes("SELECT doc_id, ct AS text FROM cleaned", TextQueries.Q127Th)},
       |kept AS (
       |  SELECT c.doc_id, c.source, c.n_removed, c.ct, s.n_words
       |  FROM cleaned c JOIN qrstats s USING (doc_id)
       |  WHERE ${TextQueries.qualityPassedSql(TextQueries.Q127Th)}
       |), surv AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, MIN(doc_id) OVER (
       |      PARTITION BY md5(trim(regexp_replace(lower(ct), '\\s+', ' ', 'g')))) AS m
       |    FROM kept) x
       |  WHERE doc_id = m
       |)
       |SELECT k.doc_id, k.source, k.n_words, k.n_removed,
       |  CASE WHEN CAST('0x' || substr(md5(CAST(k.doc_id AS VARCHAR) || ':split'), 1, 8) AS BIGINT) % 100 < 90
       |       THEN 'train' ELSE 'eval' END AS split_name
       |FROM kept k JOIN surv USING (doc_id)""".stripMargin

  /** q122: the END-TO-END CURATION PIPELINE
    * ([[graft.pipelines.CurationPipeline]] — the LLM-side analog of the
    * tiki_dag gate q68): line cleaning → language filter (en) → quality
    * filter (≥0.45) → exact dedup min-id survivor → deterministic 90/10
    * split → token counts, one composed call over the q109 line
    * synthesizer. The DuckDB oracle replays the WHOLE chain — the line
    * CTEs, the marker-count language CASE and the quality formula over
    * the CLEANED text, the fingerprint dedup, the md5 split buckets —
    * from raw documents, so a stage wired in the wrong order (e.g.
    * quality scored on raw text, or split before dedup) hash-fails.
    */
  def q122CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("lines", expr(
        """transform(sequence(1, (size(__toks) + 1) div 2),
          |  i -> CASE WHEN 2 * i <= size(__toks)
          |            THEN concat(element_at(__toks, CAST(2 * i - 1 AS INT)), ' ',
          |                        element_at(__toks, CAST(2 * i AS INT)))
          |            ELSE element_at(__toks, CAST(2 * i - 1 AS INT)) END)""".stripMargin))
      .select(col("doc_id"), col("lines"))
    graft.pipelines.CurationPipeline.run(docs, "doc_id", "lines",
      permilleOfDocs = 35, keepLangs = Seq("en"), minQuality = 0.45,
      trainPct = 90)
  }

  def q122Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
      |), toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS ord
      |  FROM t
      |), pairs AS (
      |  SELECT doc_id, (ord + 1) // 2 AS lpos,
      |         string_agg(tok, ' ' ORDER BY ord) AS line
      |  FROM toks GROUP BY doc_id, (ord + 1) // 2
      |), firstocc AS (
      |  SELECT doc_id, line, lpos FROM (
      |    SELECT doc_id, line, lpos,
      |      row_number() OVER (PARTITION BY doc_id, line ORDER BY lpos) AS rn
      |    FROM pairs) x
      |  WHERE rn = 1
      |), keptlines AS (
      |  SELECT line FROM firstocc GROUP BY line
      |  HAVING count(*) <= GREATEST(
      |    (SELECT count(DISTINCT doc_id) FROM t) * 35 // 1000, 1)
      |), cleaned AS MATERIALIZED (
      |  SELECT f.doc_id, string_agg(f.line, chr(10) ORDER BY f.lpos) AS ct
      |  FROM firstocc f JOIN keptlines k USING (line)
      |  GROUP BY f.doc_id
      |), scored AS (
      |  SELECT doc_id, ct,
      |    CAST(len(regexp_extract_all(lower(ct), '\b(the|and|of|to|a|in)\b')) AS INTEGER) AS c_en,
      |    CAST(len(regexp_extract_all(lower(ct), '\b(der|die|und|das|nicht)\b')) AS INTEGER) AS c_de,
      |    CAST(len(regexp_extract_all(lower(ct), '\b(el|la|los|que|es)\b')) AS INTEGER) AS c_es,
      |    CAST(len(regexp_extract_all(lower(ct), '\b(le|les|des|est|une)\b')) AS INTEGER) AS c_fr,
      |    CAST(len(regexp_extract_all(lower(ct), '[一-鿿]')) AS INTEGER) AS c_zh,
      |    CASE WHEN ct IS NULL OR trim(ct) = '' THEN 0
      |         ELSE CAST(len(regexp_extract_all(trim(ct), '\S+')) AS INTEGER) END AS n_tokens,
      |    CASE WHEN ct IS NULL OR length(ct) = 0 THEN 0.0
      |         ELSE CAST(len(regexp_extract_all(lower(ct), '[a-z]')) AS DOUBLE) / length(ct) END AS alpha_ratio,
      |    CAST(len(regexp_extract_all(lower(ct), '\b(the|a|an|and|or|of|to|in|is|it)\b')) AS INTEGER) AS n_stops
      |  FROM cleaned
      |), langq AS (
      |  SELECT doc_id, ct, n_tokens,
      |    CASE WHEN greatest(c_en, c_de, c_es, c_fr, c_zh) <= 0 THEN 'unknown'
      |         WHEN c_en = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'en'
      |         WHEN c_de = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'de'
      |         WHEN c_es = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'es'
      |         WHEN c_fr = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'fr'
      |         WHEN c_zh = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'zh'
      |         ELSE 'unknown' END AS lang,
      |    0.4 * alpha_ratio
      |      + 0.3 * (CASE WHEN n_tokens = 0 THEN 0.0
      |               ELSE LEAST(1.0, CAST(n_stops AS DOUBLE) / n_tokens) END)
      |      + 0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) AS quality_score
      |  FROM scored
      |), kept AS (
      |  SELECT * FROM langq WHERE lang = 'en' AND quality_score >= 0.45
      |), deduped AS (
      |  SELECT * FROM (
      |    SELECT *, MIN(doc_id) OVER (
      |      PARTITION BY md5(trim(regexp_replace(lower(ct), '\s+', ' ', 'g')))) AS surv
      |    FROM kept) x
      |  WHERE doc_id = surv
      |)
      |SELECT doc_id, lang, quality_score, n_tokens,
      |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8) AS BIGINT) % 100 < 90
      |       THEN 'train' ELSE 'eval' END AS split_name
      |FROM deduped""".stripMargin

  def q109Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
      |), toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS ord
      |  FROM t
      |), pairs AS (
      |  SELECT doc_id, (ord + 1) // 2 AS lpos,
      |         string_agg(tok, ' ' ORDER BY ord) AS line
      |  FROM toks GROUP BY doc_id, (ord + 1) // 2
      |), firstocc AS (
      |  SELECT doc_id, line, lpos FROM (
      |    SELECT doc_id, line, lpos,
      |      row_number() OVER (PARTITION BY doc_id, line ORDER BY lpos) AS rn
      |    FROM pairs) x
      |  WHERE rn = 1
      |), keptlines AS (
      |  SELECT line FROM firstocc GROUP BY line
      |  HAVING count(*) <= GREATEST(
      |    (SELECT count(DISTINCT doc_id) FROM t) * 35 // 1000, 1)
      |), rawlen AS (
      |  SELECT doc_id,
      |    (len(string_split(text, ' ')) + 1) // 2 AS n_lines
      |  FROM t
      |)
      |SELECT f.doc_id,
      |  string_agg(f.line, chr(10) ORDER BY f.lpos) AS clean_text,
      |  r.n_lines AS n_lines,
      |  count(*) AS n_kept
      |FROM firstocc f
      |JOIN keptlines k USING (line)
      |JOIN rawlen r ON r.doc_id = f.doc_id
      |GROUP BY f.doc_id, r.n_lines""".stripMargin

  /** q131's day split: TWO days by `doc_id % 2`. Two is the minimum that
    * exercises the whole state machine (day 1 pays every path: crossing
    * detection against real prior state, postings-pruned re-clean of day-0
    * docs, versioned clean MERGE over touched buckets) and the r16 bench
    * showed each extra day re-pays the full MERGE fan-in — three days
    * measured 27.6 s (37% of the harness bucket) for no additional
    * semantic coverage. IncrementalSpanDedupSpec pins non-vacuity of THIS
    * split (crossing hashes + re-cleaned old docs > 0) at all three
    * shipped SFs via the data-level audit, plus the full state-machine
    * audit at gate scale.
    */
  val SpanDays = 2

  /** q131: INCREMENTAL span-dedup maintenance
    * ([[graft.operators.dedup.IncrementalSpanDedup]] — the daily-append
    * form of q129). The gate splits the corpus into [[SpanDays]] "days"
    * by doc-id residue and ingests them sequentially through the state
    * machine (counts segments, postings, selective re-cleans, versioned
    * clean MERGE); the returned frame is the CONVERGED maintained
    * output. The oracle is q129's batch replay VERBATIM — the
    * convergence contract (N appends ≡ one from-scratch pass over the
    * union) is the whole point, so any missed re-clean (an old doc whose
    * span became duplicated by a later day) hash-fails against the
    * batch answer. The day split is residue-based, so duplicated spans
    * land across days at every shipped SF and the crossing-hash re-clean
    * path is exercised for real (IncrementalSpanDedupSpec pins that its
    * audit counters are non-zero on this exact split).
    */
  def q131SpanIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.dedup.IncrementalSpanDedup
    val root = PipelineQueries.freshDir("q131")
    val docs = Tables.documents(spark, dir)
    for (day <- 0 until SpanDays)
      IncrementalSpanDedup.append(spark, root,
        docs.filter(org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.lit(SpanDays)) === day),
        "doc_id", "text", spanTokens = 5)
    IncrementalSpanDedup.result(spark, root, "doc_id")
  }

  /** Batch replay: the converged incremental state must equal q129. */
  def q131Oracle: String = q129Oracle
}
