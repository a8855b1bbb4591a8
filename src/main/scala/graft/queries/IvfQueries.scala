package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, when}

import graft.Tables
import graft.operators.similarity.{IvfAnn, KMeansExact, KMeansTwoLevel}

/** q33: IVF ANN — the partition-prunable similarity-search scale path
  * (SURVEY §2 item 36, complementing LSH q25), now with TRAINED centroids:
  * 3 exact-integer Lloyd iterations ([[KMeansExact]]) refine the first-K
  * seeds before assignment/probing. Fully oracle-checked INCLUDING the
  * training: the DuckDB oracle replays quantization, every assignment,
  * every integer floor-mean update, the dequantized centroid weights, and
  * then the search's argmax-assign/probe/re-rank — bit-for-bit.
  */
object IvfQueries {

  val NCentroids = 8
  val Probes = 2
  val TrainIters = 3

  def q33IvfAnn(spark: SparkSession, dir: String): DataFrame =
    IvfAnn.searchTrained(Tables.embeddings(spark, dir), "vec_id", "embedding",
      _ < 10, k = SimilarityQueries.K, nCentroids = NCentroids,
      probes = Probes, trainIters = TrainIters, dims = SimilarityQueries.Dims)

  def q33Oracle: String = ivfSearchOracleSql("embeddings")

  /** q33's full replay (training → assignment → probe → re-rank) with a
    * parameterized TRAINING corpus: q33 trains on the whole table, q126
    * on the pre-delta base — everything downstream (assigning/searching
    * the full table) is identical, which is exactly the frozen-centroid
    * incremental contract.
    */
  private def ivfSearchOracleSql(trainFromSql: String): String = {
    val dims = SimilarityQueries.Dims
    def dot(a: String, b: String) = (1 to dims)
      .map(i => s"CAST($a[$i] AS DOUBLE)*CAST($b[$i] AS DOUBLE)")
      .mkString(" + ")
    // corpus-vector · trained-centroid dot, element order, centroid side
    // already double (w columns)
    def dotW(a: String, c: String) = (0 until dims)
      .map(i => s"CAST($a[${i + 1}] AS DOUBLE)*$c.w$i")
      .mkString(" + ")
    val sumsq = dot("embedding", "embedding")
    val training = KMeansExact.oracleCtes("km", trainFromSql, "vec_id",
      "embedding", NCentroids, TrainIters, dims)
    s"""WITH $training
       |n AS MATERIALIZED (
       |  SELECT vec_id, embedding AS e, sqrt($sumsq) AS nrm FROM embeddings
       |), asgscore AS (
       |  SELECT v.vec_id AS vid, v.e, v.nrm, c.cid,
       |    (${dotW("v.e", "c")}) / (v.nrm * c.cnrm) AS ccos
       |  FROM n v CROSS JOIN kmcw c
       |), asg AS MATERIALIZED (
       |  SELECT vid, e, nrm, cid AS cluster_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY ccos DESC, cid ASC) AS crank
       |    FROM asgscore) t
       |  WHERE crank = 1
       |), queries AS (
       |  SELECT vid AS query_id, e AS qe, nrm AS qnrm FROM asg WHERE vid < 10
       |), probescore AS (
       |  SELECT q.query_id, q.qe, q.qnrm, c.cid,
       |    (${dotW("q.qe", "c")}) / (q.qnrm * c.cnrm) AS ccos
       |  FROM queries q CROSS JOIN kmcw c
       |), probes AS (
       |  SELECT query_id, qe, qnrm, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, cid ASC) AS prank
       |    FROM probescore) t
       |  WHERE prank <= $Probes
       |), cands AS (
       |  SELECT DISTINCT p.query_id, a.vid AS neighbor_id,
       |    (${dot("p.qe", "a.e")}) / (p.qnrm * a.nrm) AS cosine
       |  FROM probes p JOIN asg a ON p.cid = a.cluster_id AND a.vid <> p.query_id
       |)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM cands) t
       |WHERE rank <= ${SimilarityQueries.K}""".stripMargin
  }

  /** Delta stratum for the q126 incremental-maintenance gate: every 5th
    * vector arrives as the "new day" append; centroids train on the
    * remaining 80% base. Repeated in the oracle's train predicate.
    */
  val DeltaMod = 5

  /** q126: INCREMENTAL IVF maintenance
    * ([[graft.operators.similarity.IvfIncremental]] — the similarity-side
    * sibling of incremental dedup q92 and partition-pruned MERGE q98):
    * build the index on the pre-delta base (train + assign), APPEND the
    * delta through the frozen-centroid codegen probe without touching a
    * base row, then search the maintained index. Because centroids are
    * frozen, the oracle needs no knowledge of the append at all: it
    * replays train-on-base → assign-the-UNION → probe → re-rank — the
    * batch single-pass result the incremental path must equal (the
    * operator's core contract; batching-invariance is additionally
    * spec-pinned).
    */
  def q126IvfAppend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import graft.operators.similarity.IvfIncremental
    val emb = Tables.embeddings(spark, dir)
    val idx = IvfIncremental.build(
      emb.filter(col("vec_id") % DeltaMod =!= 0), "vec_id", "embedding",
      NCentroids, TrainIters, SimilarityQueries.Dims)
    val appended = IvfIncremental.append(idx,
      emb.filter(col("vec_id") % DeltaMod === 0), "vec_id", "embedding")
    IvfIncremental.search(appended, _ < 10, SimilarityQueries.K, Probes)
  }

  def q126Oracle: String =
    ivfSearchOracleSql(s"(SELECT * FROM embeddings WHERE vec_id % $DeltaMod <> 0)")

  /** Feed event for the q152 streaming drive (bounded: the embeddings
    * table is dim-table-sized at every SF — ≤2000 rows).
    */
  final case class VecEvent(vec_id: Long, embedding: Seq[Float])

  /** How the q152 stream batches the corpus: 3 deterministic micro-batches
    * by vec_id % 3 — every vector arrives exactly once, in a batching the
    * oracle never sees (the monoid contract: final index ≡ one-pass batch
    * assignment of the union).
    */
  val StreamBatches = 3

  /** q152: STREAMING IVF maintenance
    * ([[graft.streaming.IvfStreamSink]] — the streaming twin of q126, the
    * q101 sink discipline applied to the vector index): centroids train
    * once on the q126 base stratum and FREEZE; the whole corpus then
    * arrives through a real MemoryStream in 3 micro-batches, each
    * foreachBatch assigning its delta with the frozen centroids and
    * publishing an O(delta) `delta_batch=<id>` partition via staging →
    * rename. The LAST batch is then re-applied directly (foreachBatch's
    * retry surface) and must no-op on the existence marker. Gated result:
    * the index read back from DISK, searched exactly like q126 — and the
    * oracle IS q126's replay (train-on-base → assign-union → probe →
    * re-rank), because frozen centroids make any batching of the
    * assignment equal to the single batch pass.
    */
  def q152IvfStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.operators.similarity.IvfIncremental
    import graft.streaming.IvfStreamSink
    val target = s"${PipelineQueries.freshDir("q152")}/ivf"
    val emb = Tables.embeddings(spark, dir)
    // frozen artifacts from the base stratum; .assigned is never consumed
    // (lazy) — the stream is the only writer of assignment state here
    val idx = IvfIncremental.build(
      emb.filter(col("vec_id") % DeltaMod =!= 0), "vec_id", "embedding",
      NCentroids, TrainIters, SimilarityQueries.Dims)
    val sink = IvfStreamSink.appendBatch(target, idx.trained,
      "vec_id", "embedding") _
    val batches = FeedHarness.batchesOf(
      emb.select((col("vec_id") % StreamBatches).as("b"),
        col("vec_id"), col("embedding")), "b")(r =>
      VecEvent(r.getLong(1), r.getSeq[Float](2)))
    FeedHarness.driveForeach(spark, batches)(sink)
    // retry of the LAST applied batch id — must no-op on the marker
    sink(emb.filter(col("vec_id") % StreamBatches === StreamBatches - 1)
      .select(col("vec_id"), col("embedding")), (StreamBatches - 1).toLong)
    IvfIncremental.search(
      idx.copy(assigned = IvfStreamSink.readAssigned(spark, target)),
      _ < 10, SimilarityQueries.K, Probes)
  }

  def q152Oracle: String = q126Oracle

  val SemThreshold = 0.4 // the corpus's near-dup boundary (q31's threshold)

  /** q121: SemDeDup-style SEMANTIC dedup
    * ([[graft.operators.dedup.SemanticDedup]], Abbas et al. 2023) —
    * trained k-means clustering + within-cluster min-id-wins drop of
    * near-identical vectors. The oracle replays the ENTIRE composition:
    * the same [[KMeansExact.oracleCtes]] training replay q33 uses, every
    * cluster assignment, and the per-pair drop rule — kept flags for the
    * whole corpus, checked by an engine that never saw the clustering.
    */
  def q121SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    graft.operators.dedup.SemanticDedup.flaggedAdaptive(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      threshold = SemThreshold, trainIters = TrainIters,
      dims = SimilarityQueries.Dims,
      oracleFlatLadder = true) // q121Oracle replays the flat ladder only

  def q121Oracle: String =
    s"""WITH ${semFlagCtes("SELECT vec_id, embedding FROM embeddings", SemThreshold)}
       |SELECT vec_id, cluster_id, kept FROM semflags""".stripMargin

  /** CTE chain (for a WITH list) replaying
    * [[graft.operators.dedup.SemanticDedup.flaggedAdaptive]] over an
    * ARBITRARY corpus subquery producing (vec_id, embedding): the
    * occupancy-adaptive cell ladder and training-sample modulus as
    * integer CASE ladders, the full k-means training replay, every
    * assignment, and the per-pair drop rule — ending in
    * `semflags(vec_id, cluster_id, kept)`. Shared by q121 (corpus = the
    * embeddings table) and q124 (corpus = the chunk-derived vectors), so
    * the composed pipeline's replay is definitionally the per-stage
    * gate's replay.
    */
  private[queries] def semFlagCtes(corpusSql: String,
                                   threshold: Double): String = {
    import graft.operators.dedup.SemanticDedup
    import graft.operators.similarity.NswAnn
    val dims = SimilarityQueries.Dims
    def dot(a: String, b: String) = (1 to dims)
      .map(i => s"CAST($a[$i] AS DOUBLE)*CAST($b[$i] AS DOUBLE)")
      .mkString(" + ")
    def dotW(a: String, c: String) = (0 until dims)
      .map(i => s"CAST($a[${i + 1}] AS DOUBLE)*$c.w$i")
      .mkString(" + ")
    val sumsq = dot("embedding", "embedding")
    // occupancy-adaptive cell ladder + training-sample modulus, replayed
    // as integer CASE ladders exactly like the NSW oracle's
    // the ladder's FLAT regime (kf = 1), which covers every shipped SF by
    // orders of magnitude (boundary: MaxCoarse·TargetCell = 65536
    // vectors); past it flaggedAdaptive switches to the two-level rung,
    // whose full replay q133 pins at forced knobs
    val cellLadder = {
      val steps = Iterator.iterate(SemanticDedup.BaseCells)(_ << 1)
        .takeWhile(_ < SemanticDedup.MaxCoarse)
        .map(k => s"WHEN count(*) <= ${k.toLong * SemanticDedup.TargetCell} THEN $k")
        .mkString(" ")
      s"SELECT CASE $steps ELSE ${SemanticDedup.MaxCoarse} END AS k FROM semcorpus"
    }
    val modLadder = {
      val steps = Iterator.iterate(1)(_ << 1)
        .takeWhile(_ < NswAnn.MaxModulus)
        .map(m => s"WHEN count(*) <= ${m.toLong * NswAnn.TrainCap} THEN $m")
        .mkString(" ")
      s"SELECT CASE $steps ELSE ${NswAnn.MaxModulus} END AS m FROM semcorpus"
    }
    val training = KMeansExact.oracleCtes("km",
      "(SELECT * FROM semcorpus WHERE vec_id % (SELECT m FROM smod) = 0)",
      "vec_id", "embedding", SemanticDedup.MaxCoarse, TrainIters, dims,
      kSql = "SELECT k FROM nc")
    s"""semcorpus AS MATERIALIZED ($corpusSql),
       |nc AS ($cellLadder),
       |smod AS ($modLadder),
       |$training
       |n AS MATERIALIZED (
       |  SELECT vec_id, embedding AS e, sqrt($sumsq) AS nrm FROM semcorpus
       |), asgscore AS (
       |  SELECT v.vec_id AS vid, v.e, v.nrm, c.cid,
       |    (${dotW("v.e", "c")}) / (v.nrm * c.cnrm) AS ccos
       |  FROM n v CROSS JOIN kmcw c
       |), asg AS MATERIALIZED (
       |  SELECT vid, e, nrm, cid AS cluster_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY ccos DESC, cid ASC) AS crank
       |    FROM asgscore) t
       |  WHERE crank = 1
       |), semflags AS (
       |SELECT a.vid AS vec_id, a.cluster_id,
       |  NOT EXISTS (
       |    SELECT 1 FROM asg b
       |    WHERE b.cluster_id = a.cluster_id AND b.vid < a.vid
       |      AND (${dot("a.e", "b.e")}) / (a.nrm * b.nrm) > $threshold
       |  ) AS kept
       |FROM asg a)""".stripMargin
  }

  /** q133 knobs: the two-level rung FORCED at gate scale. Production
    * enters this path only past MaxCoarse·TargetCell = 65k vectors
    * ([[graft.operators.dedup.SemanticDedup.adaptiveTwoLevel]]); the gate
    * pins the identical code path at kc=4 × kf=4 so the full replay —
    * coarse training, the sample's coarse assignment, fine seeding, every
    * grouped fine Lloyd iteration, the two-probe cosine assignment, and
    * the pair-drop rule — runs against DuckDB at sf0.01.
    */
  val TlCoarse = 4
  val TlFine = 4

  /** q133: TWO-LEVEL (coarse→fine) semantic dedup
    * ([[graft.operators.similarity.KMeansTwoLevel]] through
    * [[graft.operators.dedup.SemanticDedup.flaggedTwoLevel]]) — the
    * assignment rung that moves the cell ladder's ceiling from ~1M to
    * ~268M vectors by scoring kc+kf centroids per row instead of kc·kf.
    * Same output shape and drop rule as q121; cluster_id = gid·kf + fid.
    */
  def q133SemanticTwoLevel(spark: SparkSession, dir: String): DataFrame =
    graft.operators.dedup.SemanticDedup.flaggedTwoLevel(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      threshold = SemThreshold, kc = TlCoarse, kf = TlFine,
      trainIters = TrainIters, dims = SimilarityQueries.Dims)

  def q133Oracle: String = {
    val dims = SimilarityQueries.Dims
    def dot(a: String, b: String) = (1 to dims)
      .map(i => s"CAST($a[$i] AS DOUBLE)*CAST($b[$i] AS DOUBLE)")
      .mkString(" + ")
    def dotW(a: String, c: String) = (0 until dims)
      .map(i => s"CAST($a[${i + 1}] AS DOUBLE)*$c.w$i")
      .mkString(" + ")
    val sumsq = dot("embedding", "embedding")
    val training = KMeansTwoLevel.oracleCtes("tl", "embeddings", "vec_id",
      "embedding", TlCoarse, TlFine, TrainIters, dims)
    s"""WITH $training
       |n AS MATERIALIZED (
       |  SELECT vec_id, embedding AS e, sqrt($sumsq) AS nrm FROM embeddings
       |), gscore AS (
       |  SELECT v.vec_id AS vid, v.e, v.nrm, c.cid,
       |    (${dotW("v.e", "c")}) / (v.nrm * c.cnrm) AS ccos
       |  FROM n v CROSS JOIN tlccw c
       |), gasg AS MATERIALIZED (
       |  SELECT vid, e, nrm, cid AS gid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY ccos DESC, cid ASC) AS rn
       |    FROM gscore) t
       |  WHERE rn = 1
       |), fpick AS (
       |  SELECT vid, fcid FROM (
       |    SELECT g.vid, f.fcid,
       |      row_number() OVER (PARTITION BY g.vid
       |        ORDER BY (${dotW("g.e", "f")}) / (g.nrm * f.cnrm) DESC, f.fcid ASC) AS rn
       |    FROM gasg g JOIN tlfcw f ON f.gid = g.gid) t
       |  WHERE rn = 1
       |), asg AS MATERIALIZED (
       |  SELECT g.vid, g.e, g.nrm,
       |    g.gid * $TlFine + COALESCE(p.fcid, 0) AS cluster_id
       |  FROM gasg g LEFT JOIN fpick p USING (vid)
       |)
       |SELECT a.vid AS vec_id, a.cluster_id,
       |  NOT EXISTS (
       |    SELECT 1 FROM asg b
       |    WHERE b.cluster_id = a.cluster_id AND b.vid < a.vid
       |      AND (${dot("a.e", "b.e")}) / (a.nrm * b.nrm) > $SemThreshold
       |  ) AS kept
       |FROM asg a""".stripMargin
  }

  /** q146's derived corpus: the first [[AdBaseN]] embeddings (present at
    * every SF, so the corpus — and therefore every adaptive knob — is
    * identical no matter which directory the gate runs against),
    * replicated [[AdReplicas]]× with ScaleUp's decorrelation trick
    * (cyclic rotation of an [[AdDims]]-dim head slice; replica ids shift
    * by r·AdBaseN). 500 × 132 = 66,000 vectors — just past the
    * MaxCoarse·TargetCell = 65,536 flat-ladder boundary, so
    * [[graft.operators.dedup.SemanticDedup.flaggedAdaptive]] takes the
    * TWO-LEVEL rung through the PRODUCTION ladder itself (kc=256, kf=2,
    * train modulus 2) — the path that ships at 100 TB, previously
    * require-guarded but ungated (the r15 task 3). AdDims=8 keeps the
    * kc=256 DuckDB replay tractable (the 64-dim replay would be a
    * ~1.1B-term assignment cross join on the oracle side).
    */
  val AdBaseN = 500L
  val AdReplicas = 132L
  val AdDims = 8

  /** The production knobs q146's corpus pins, derived FROM the ladder so
    * the oracle constants cannot drift from the shipped code path.
    */
  private def adKnobs: (Int, Int, Int) = {
    import graft.operators.dedup.SemanticDedup
    import graft.operators.similarity.NswAnn
    val n = AdBaseN * AdReplicas
    val (kc, kf) = SemanticDedup.adaptiveTwoLevel(n)
    val m = NswAnn.trainModulus(n)
    require(kf > 1, s"q146 corpus n=$n no longer crosses the two-level " +
      s"boundary (kc=$kc kf=$kf) — raise AdReplicas")
    (kc, kf, m)
  }

  /** q146: the ADAPTIVE two-level SemDeDup path, oracle-gated
    * ([[graft.operators.dedup.SemanticDedup.flaggedAdaptive]] past the
    * 65,536-vector flat boundary). q121 gates the flat regime and q133
    * pins the two-level machinery at FORCED kc=4×kf=4; this gate drives
    * the real ladder: corpus count → (kc=256, kf=2) + sampled training
    * (modulus 2) → coarse replay, fine seeding/iterations, two-probe
    * assignment, pair-drop rule — all replayed by DuckDB from the raw
    * embeddings table.
    */
  def q146SemanticAdaptiveTwoLevel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    adKnobs // loud if the corpus no longer pins the two-level regime
    val emb = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < AdBaseN)
      .select(col("vec_id"), slice(col("embedding"), 1, AdDims).as("he"))
    // Loud drift guard: adKnobs derives (kc,kf,m) from the LITERAL
    // AdBaseN·AdReplicas while flaggedAdaptive recounts the built corpus;
    // if the filtered base ever has != AdBaseN rows or duplicate vec_ids
    // the two would silently disagree and the gate would fail as an
    // opaque hash mismatch. One 2-long-row aggregate over 500 rows.
    val bs = emb.agg(count(lit(1)).as("n"), countDistinct(col("vec_id")).as("d")).head()
    require(bs.getLong(0) == AdBaseN && bs.getLong(1) == AdBaseN,
      s"q146 base corpus drift: expected $AdBaseN unique vec_id<$AdBaseN " +
        s"embeddings, found n=${bs.getLong(0)} distinct=${bs.getLong(1)} — " +
        "the operator knobs and the oracle constants would diverge")
    val reps = spark.range(AdReplicas).select(col("id").as("__r"))
    val s = (col("__r") % AdDims).cast("int")
    val corpus = emb.crossJoin(broadcast(reps)).select(
      (col("vec_id") + col("__r") * AdBaseN).as("vec_id"),
      concat(slice(col("he"), s + lit(1), lit(AdDims) - s),
        slice(col("he"), lit(1), s)).as("embedding"))
    graft.operators.dedup.SemanticDedup.flaggedAdaptive(
      corpus, "vec_id", "embedding", threshold = SemThreshold,
      trainIters = TrainIters, dims = AdDims)
  }

  def q146Oracle: String = {
    val (kc, kf, m) = adKnobs
    val dims = AdDims
    def dot(a: String, b: String) = (1 to dims)
      .map(i => s"CAST($a[$i] AS DOUBLE)*CAST($b[$i] AS DOUBLE)")
      .mkString(" + ")
    def dotW(a: String, c: String) = (0 until dims)
      .map(i => s"CAST($a[${i + 1}] AS DOUBLE)*$c.w$i")
      .mkString(" + ")
    val sumsq = dot("embedding", "embedding")
    val training = KMeansTwoLevel.oracleCtes("ad",
      s"(SELECT * FROM adcorp WHERE vec_id % $m = 0)", "vec_id", "embedding",
      kc, kf, TrainIters, dims)
    s"""WITH adbase AS (
       |  SELECT vec_id, embedding[1:$dims] AS he
       |  FROM embeddings WHERE vec_id < $AdBaseN
       |), adcorp AS MATERIALIZED (
       |  SELECT e.vec_id + r.r * $AdBaseN AS vec_id,
       |    (e.he[(r.r % $dims) + 1 : $dims] || e.he[1 : (r.r % $dims)]) AS embedding
       |  FROM adbase e CROSS JOIN (SELECT unnest(range(0, $AdReplicas)) AS r) r
       |),
       |$training
       |n AS MATERIALIZED (
       |  SELECT vec_id, embedding AS e, sqrt($sumsq) AS nrm FROM adcorp
       |), gscore AS (
       |  SELECT v.vec_id AS vid, v.e, v.nrm, c.cid,
       |    (${dotW("v.e", "c")}) / (v.nrm * c.cnrm) AS ccos
       |  FROM n v CROSS JOIN adccw c
       |), gasg AS MATERIALIZED (
       |  SELECT vid, e, nrm, cid AS gid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY ccos DESC, cid ASC) AS rn
       |    FROM gscore) t
       |  WHERE rn = 1
       |), fpick AS (
       |  SELECT vid, fcid FROM (
       |    SELECT g.vid, f.fcid,
       |      row_number() OVER (PARTITION BY g.vid
       |        ORDER BY (${dotW("g.e", "f")}) / (g.nrm * f.cnrm) DESC, f.fcid ASC) AS rn
       |    FROM gasg g JOIN adfcw f ON f.gid = g.gid) t
       |  WHERE rn = 1
       |), asg AS MATERIALIZED (
       |  SELECT g.vid, g.e, g.nrm,
       |    g.gid * $kf + COALESCE(p.fcid, 0) AS cluster_id
       |  FROM gasg g LEFT JOIN fpick p USING (vid)
       |)
       |SELECT a.vid AS vec_id, a.cluster_id,
       |  NOT EXISTS (
       |    SELECT 1 FROM asg b
       |    WHERE b.cluster_id = a.cluster_id AND b.vid < a.vid
       |      AND (${dot("a.e", "b.e")}) / (a.nrm * b.nrm) > $SemThreshold
       |  ) AS kept
       |FROM asg a""".stripMargin
  }

  /** q124: the END-TO-END EMBEDDING PIPELINE
    * ([[graft.pipelines.EmbeddingPipeline]] — the similarity-space analog
    * of the q122 curation chain): token-window chunking (q94's operator)
    * → chunk-fingerprint exact dedup → deterministic stub embed-join →
    * occupancy-adaptive semantic dedup (q121's operator), one composed
    * call. The DuckDB oracle replays the WHOLE chain from raw
    * `documents` + `embeddings`: the q94 window CTEs, the min-chunk-id
    * fingerprint groups, the md5-mod-n lookup keys, and the complete
    * q121 training/assignment/drop replay over the DERIVED chunk corpus
    * — a stage wired in the wrong order (embed before dedup, cluster on
    * pre-dedup chunks) hash-fails.
    */
  def q124EmbeddingPipeline(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.EmbeddingPipeline.run(
      Tables.documents(spark, dir), Tables.embeddings(spark, dir),
      "doc_id", "text", chunkTokens = 32, overlap = 8,
      threshold = SemThreshold, trainIters = TrainIters,
      dims = SimilarityQueries.Dims,
      oracleFlatLadder = true) // q124Oracle replays the flat ladder only

  def q124Oracle: String = {
    val stride = graft.pipelines.EmbeddingPipeline.ChunkIdStride
    val corpus = "SELECT chunk_id AS vec_id, embedding FROM embjoin"
    s"""WITH toks AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
       |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
       |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
       |), starts AS (
       |  SELECT doc_id, t, unnest(range(0, GREATEST(len(t) - 1, 0) + 1, 24)) AS s
       |  FROM toks WHERE len(norm) > 0
       |), chunkfp AS (
       |  SELECT doc_id * $stride + (s // 24) AS chunk_id,
       |    md5(array_to_string(t[s + 1 : s + 32], ' ')) AS fp
       |  FROM starts
       |  WHERE s = 0 OR s < len(t) - 8
       |), surv AS MATERIALIZED (
       |  SELECT fp, MIN(chunk_id) AS chunk_id, COUNT(*) AS n_dups
       |  FROM chunkfp GROUP BY fp
       |), nv AS (
       |  SELECT MAX(vec_id) + 1 AS n FROM embeddings
       |), embjoin AS MATERIALIZED (
       |  SELECT s.chunk_id, s.n_dups, e.vec_id, e.embedding
       |  FROM surv s JOIN embeddings e
       |    ON e.vec_id = CAST('0x' || substr(md5(s.fp), 1, 8) AS BIGINT) % (SELECT n FROM nv)
       |),
       |${semFlagCtes(corpus, SemThreshold)}
       |SELECT ej.chunk_id // $stride AS doc_id,
       |  CAST(ej.chunk_id % $stride AS INTEGER) AS chunk_no,
       |  ej.n_dups, ej.vec_id, f.cluster_id, f.kept
       |FROM embjoin ej JOIN semflags f ON f.vec_id = ej.chunk_id""".stripMargin
  }

  /** q162: SEMANTIC eval-train contamination audit — the
    * embedding-space twin of the n-gram contamination audit (q51):
    * deterministic 20% eval split by salted hash, OCCUPANCY-ADAPTIVE
    * trained assignment (the q121 ladder — flat regime at every shipped
    * SF), eval×train pairs confined to cells, per-eval nearest train
    * neighbor + contaminated flag at the q31/q121 near-dup threshold.
    * The oracle replays the cell/modulus ladders, training, every
    * assignment, the split hash, every cell-confined cosine, the
    * (cos DESC, id ASC) rank-1, and each flag.
    * See [[graft.operators.dedup.SemanticContamination]].
    */
  val ContamEvalBuckets = 5

  def q162SemanticContamination(spark: SparkSession, dir: String): DataFrame =
    graft.operators.dedup.SemanticContamination.auditAdaptive(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      vid => graft.operators.Sampling.hashBucket(
        vid, ContamEvalBuckets, ":semsplit") === 0,
      SemThreshold, TrainIters, SimilarityQueries.Dims,
      oracleFlatLadder = true)

  def q162Oracle: String = {
    import graft.operators.dedup.SemanticDedup
    import graft.operators.similarity.NswAnn
    val dims = SimilarityQueries.Dims
    def dot(a: String, b: String) = (1 to dims)
      .map(i => s"CAST($a[$i] AS DOUBLE)*CAST($b[$i] AS DOUBLE)")
      .mkString(" + ")
    def dotW(a: String, c: String) = (0 until dims)
      .map(i => s"CAST($a[${i + 1}] AS DOUBLE)*$c.w$i")
      .mkString(" + ")
    val sumsq = dot("embedding", "embedding")
    // the occupancy/modulus knob ladders, replayed as integer CASE
    // ladders over the corpus count — the q121 (semFlagCtes) discipline
    val cellLadder = {
      val steps = Iterator.iterate(SemanticDedup.BaseCells)(_ << 1)
        .takeWhile(_ < SemanticDedup.MaxCoarse)
        .map(k => s"WHEN count(*) <= ${k.toLong * SemanticDedup.TargetCell} THEN $k")
        .mkString(" ")
      s"SELECT CASE $steps ELSE ${SemanticDedup.MaxCoarse} END AS k FROM embeddings"
    }
    val modLadder = {
      val steps = Iterator.iterate(1)(_ << 1)
        .takeWhile(_ < NswAnn.MaxModulus)
        .map(m => s"WHEN count(*) <= ${m.toLong * NswAnn.TrainCap} THEN $m")
        .mkString(" ")
      s"SELECT CASE $steps ELSE ${NswAnn.MaxModulus} END AS m FROM embeddings"
    }
    val training = KMeansExact.oracleCtes("cm",
      "(SELECT * FROM embeddings WHERE vec_id % (SELECT m FROM smod) = 0)",
      "vec_id", "embedding", SemanticDedup.MaxCoarse, TrainIters, dims,
      kSql = "SELECT k FROM nc")
    s"""WITH nc AS ($cellLadder),
       |smod AS ($modLadder),
       |$training
       |n AS MATERIALIZED (
       |  SELECT vec_id, embedding AS e, sqrt($sumsq) AS nrm FROM embeddings
       |), asgscore AS (
       |  SELECT v.vec_id AS vid, v.e, v.nrm, c.cid,
       |    (${dotW("v.e", "c")}) / (v.nrm * c.cnrm) AS ccos
       |  FROM n v CROSS JOIN cmcw c
       |), asg AS MATERIALIZED (
       |  SELECT vid, e, nrm, cid AS cluster_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY ccos DESC, cid ASC) AS crank
       |    FROM asgscore) t
       |  WHERE crank = 1
       |), fl AS MATERIALIZED (
       |  SELECT *, CAST('0x' || substr(md5(CAST(vid AS VARCHAR) || ':semsplit'), 1, 8) AS BIGINT)
       |      % $ContamEvalBuckets = 0 AS ev
       |  FROM asg
       |), pairs AS (
       |  SELECT a.vid AS e_id, b.vid AS t_id,
       |    (${dot("a.e", "b.e")}) / (a.nrm * b.nrm) AS cos
       |  FROM fl a JOIN fl b ON b.cluster_id = a.cluster_id AND NOT b.ev
       |  WHERE a.ev
       |), best AS (
       |  SELECT e_id, t_id, cos FROM (
       |    SELECT e_id, t_id, cos,
       |      row_number() OVER (PARTITION BY e_id ORDER BY cos DESC, t_id ASC) AS rn
       |    FROM pairs) t
       |  WHERE rn = 1
       |)
       |SELECT f.vid AS vec_id, f.cluster_id, b.t_id AS nn_train_id,
       |  b.cos AS nn_cosine,
       |  COALESCE(b.cos > $SemThreshold, FALSE) AS contaminated
       |FROM fl f LEFT JOIN best b ON b.e_id = f.vid
       |WHERE f.ev""".stripMargin
  }

  /** q158: prototype-distance data pruning (Sorscher et al. 2022) — the
    * q33/q121 exact k-means substrate driving a KEEP-HARD cut: every
    * embedding assigned to its trained centroid by exact int64 squared
    * L2, per cluster keep the top [[PruneKeepPct]]% FARTHEST (threshold
    * ties survive). The oracle replays quantization, all [[TrainIters]]
    * Lloyd iterations, the final assignment with its integer distance,
    * and the per-cluster exact-rank threshold.
    * See [[graft.operators.similarity.PrototypePrune]].
    */
  val PruneKeepPct = 70

  def q158PrototypePrune(spark: SparkSession, dir: String): DataFrame =
    graft.operators.similarity.PrototypePrune.flagged(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      k = NCentroids, iters = TrainIters, dims = SimilarityQueries.Dims,
      keepPct = PruneKeepPct)

  def q158Oracle: String = {
    val training = KMeansExact.oracleCtes("pp", "embeddings", "vec_id",
      "embedding", NCentroids, TrainIters, SimilarityQueries.Dims,
      withMedoids = true)
    s"""WITH $training
       |cnt AS (
       |  SELECT cid, dist, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM ppfasg GROUP BY 1, 2
       |), cum AS (
       |  SELECT cid, dist,
       |    SUM(c) OVER (PARTITION BY cid ORDER BY dist) AS cum
       |  FROM cnt
       |), nn AS (
       |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM ppfasg GROUP BY 1
       |), thr AS (
       |  SELECT c.cid, MIN(c.dist) AS t
       |  FROM cum c JOIN nn USING (cid)
       |  WHERE c.cum >= n - ((n * $PruneKeepPct) // 100) + 1
       |  GROUP BY 1
       |)
       |SELECT f.vid AS vec_id, f.cid, f.dist,
       |  COALESCE(f.dist >= t.t, FALSE) AS keep
       |FROM ppfasg f LEFT JOIN thr t USING (cid)""".stripMargin
  }

  /** q168: the MULTIMODAL embedding pipeline
    * ([[graft.pipelines.BinaryEmbeddingPipeline]] — the bytes→vector
    * arm of q124): REAL image decode → decoded-PIXEL content
    * fingerprint (md5 over "w:h:lums…" — the BMP/PNG twins of the q166
    * corpus are byte-disjoint yet MUST land in one content group) →
    * exact content dedup (min-id survivor + dup count) → deterministic
    * stub embed-join → occupancy-adaptive semantic dedup (q121's
    * operator). The DuckDB oracle replays the WHOLE chain from raw
    * `documents` + `embeddings`: the image geometry, every decoded
    * pixel's luminance (LCG + corner patch), the md5 fingerprint
    * digit-for-digit, the group collapse, the md5-mod-n lookup keys and
    * the complete q121 training/assignment/drop replay over the DERIVED
    * content vectors — a decode slip in either codec, a pixel-order
    * drift, or a stage wired in the wrong order hash-fails.
    */
  def q168BinaryEmbedding(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.BinaryEmbeddingPipeline.run(
      SimilarityQueries.imageCorpus(spark, dir),
      Tables.embeddings(spark, dir), "doc_id", "blob",
      threshold = SemThreshold, trainIters = TrainIters,
      dims = SimilarityQueries.Dims,
      oracleFlatLadder = true) // the oracle replays the flat ladder only

  /** q172: MIXED-MODALITY embedding pipeline — q168's chain over a
    * corpus that is half REAL images, half REAL WAV audio (one binary
    * column, heterogeneous payloads — the multimodal-table shape): the
    * content fingerprint dispatches per sniffed container (decoded
    * PIXELS for images, decoded PCM16 SAMPLES through the actual
    * javax.sound codec path for audio, modality-tagged so they can
    * never collide), audio twins collapse exactly like image twins,
    * and one semantic-dedup pass runs over the union. The oracle
    * replays BOTH decoders' content from the generator spec — every
    * pixel luminance and every 16-bit sample — both md5 fingerprints,
    * the per-modality group collapses, and the full q121 chain over
    * the combined vectors.
    */
  /** The q172 mixed corpus: evens = patched seed-grouped BMPs, odds =
    * seed-grouped WAVs (exposed for the sf10 production-arm probe).
    */
  private[graft] def q172Corpus(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.multimodal.BinaryPipeline
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("doc_id DIV 8").as("seed"))
    val imgs = BinaryPipeline.encodeBmpPatched(spark,
      d.filter(col("doc_id") % 2 === 0)
        .withColumn("w", col("seed") % 37 + 9)
        .withColumn("h", col("seed") % 29 + 7)
        .withColumn("pw", when(col("doc_id") % 5 === 4,
          expr("w DIV 9")).otherwise(lit(0)))
        .withColumn("ph", when(col("doc_id") % 5 === 4,
          expr("h DIV 7")).otherwise(lit(0))),
      "doc_id", "w", "h", "seed", "pw", "ph", patchValue = 128)
    val wavs = BinaryPipeline.encodeWav(spark,
      d.filter(col("doc_id") % 2 =!= 0)
        .withColumn("n", (col("seed") % 300 + 50).cast("int"))
        .withColumn("rate", lit(8000)),
      "doc_id", "n", "rate", "seed")
    imgs.unionByName(wavs)
  }

  def q172MixedEmbedding(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.BinaryEmbeddingPipeline.run(
      q172Corpus(spark, dir), Tables.embeddings(spark, dir),
      "doc_id", "blob", threshold = SemThreshold, trainIters = TrainIters,
      dims = SimilarityQueries.Dims, oracleFlatLadder = true)

  def q172Oracle: String = {
    val corpus = "SELECT doc_id AS vec_id, embedding FROM embjoin"
    s"""WITH igeo AS (
       |  SELECT doc_id, doc_id // 8 AS seed,
       |    (doc_id // 8) % 37 + 9 AS w,
       |    (doc_id // 8) % 29 + 7 AS h,
       |    CASE WHEN doc_id % 5 = 4 THEN ((doc_id // 8) % 37 + 9) // 9 ELSE 0 END AS pw,
       |    CASE WHEN doc_id % 5 = 4 THEN ((doc_id // 8) % 29 + 7) // 7 ELSE 0 END AS ph
       |  FROM documents WHERE doc_id % 2 = 0
       |), iplums AS (
       |  SELECT doc_id, w, h,
       |    list_transform(range(w * h), p -> ${SimilarityQueries.imagePixelLumSql}) AS L
       |  FROM igeo
       |), ifp AS (
       |  SELECT doc_id,
       |    md5(CAST(w AS VARCHAR) || ':' || CAST(h AS VARCHAR) || ':' ||
       |      array_to_string(L, ':')) AS f
       |  FROM iplums
       |), wgeo AS (
       |  SELECT doc_id, doc_id // 8 AS seed, (doc_id // 8) % 300 + 50 AS n
       |  FROM documents WHERE doc_id % 2 <> 0
       |), wsmp AS (
       |  SELECT doc_id, n, list_transform(range(n), i ->
       |    ((((seed % 9973) * 2654435761 + i * 1103515245 + 12345) // 65536) % 65536) - 32768) AS S
       |  FROM wgeo
       |), wfp AS (
       |  SELECT doc_id,
       |    md5('wav:8000:' || CAST(n AS VARCHAR) || ':' ||
       |      array_to_string(S, ':')) AS f
       |  FROM wsmp
       |), cfp AS (
       |  SELECT doc_id, f FROM ifp UNION ALL SELECT doc_id, f FROM wfp
       |), surv AS MATERIALIZED (
       |  SELECT f, MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
       |  FROM cfp GROUP BY f
       |), nv AS (
       |  SELECT MAX(vec_id) + 1 AS n FROM embeddings
       |), embjoin AS MATERIALIZED (
       |  SELECT s.doc_id, s.n_dups, e.vec_id, e.embedding
       |  FROM surv s JOIN embeddings e
       |    ON e.vec_id = CAST('0x' || substr(s.f, 1, 8) AS BIGINT) % (SELECT n FROM nv)
       |),
       |${semFlagCtes(corpus, SemThreshold)}
       |SELECT ej.doc_id, ej.n_dups, ej.vec_id, f.cluster_id, f.kept
       |FROM embjoin ej JOIN semflags f ON f.vec_id = ej.doc_id""".stripMargin
  }

  /** q183: the COMPLETE image-dedup LADDER
    * ([[graft.pipelines.MediaCurationPipeline]]) — one decode feeding
    * exact → perceptual → semantic in pipeline order, each rung
    * shrinking what the next (more expensive) rung sees: content
    * fingerprints collapse byte-disjoint re-encodes, grid-dHash banded
    * pairs + CC collapse the patched near-dups ONTO the exact
    * survivors (with the raw-item mass aggregated into each keeper),
    * and only the keepers pay the embed + SemDeDup rungs. The oracle
    * replays the ENTIRE ladder from raw documents + embeddings: every
    * decoded pixel, both identities, the exact collapse, the Hamming
    * ball over survivors, the recursive closure, the per-keeper mass
    * rollup, the md5-mod-n embed keys and the full q121 chain — a
    * stage wired in the wrong order (e.g. perceptual before exact, or
    * embedding non-keepers) hash-fails.
    */
  def q183MediaLadder(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.MediaCurationPipeline.run(
      SimilarityQueries.imageCorpus(spark, dir),
      Tables.embeddings(spark, dir), "doc_id", "blob",
      threshold = SemThreshold, trainIters = TrainIters,
      dims = SimilarityQueries.Dims,
      oracleFlatLadder = true) // the oracle replays the flat ladder only

  def q183Oracle: String = {
    val corpus = "SELECT doc_id AS vec_id, embedding FROM kembjoin"
    s"""WITH RECURSIVE ${SimilarityQueries.imageGeoCte}, plums AS (
       |  SELECT doc_id, w, h,
       |    list_transform(range(w * h), p -> ${SimilarityQueries.imagePixelLumSql}) AS L
       |  FROM geo
       |), cfp AS MATERIALIZED (
       |  SELECT doc_id,
       |    md5(CAST(w AS VARCHAR) || ':' || CAST(h AS VARCHAR) || ':' ||
       |      array_to_string(L, ':')) AS f
       |  FROM plums
       |), xsurv AS MATERIALIZED (
       |  SELECT f, MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_exact
       |  FROM cfp GROUP BY f
       |), glums AS (
       |  SELECT doc_id, list_transform(range(63), g -> ${SimilarityQueries.imageLumSql}) AS L
       |  FROM geo
       |), sih AS MATERIALIZED (
       |  SELECT s.doc_id,
       |    CAST(list_sum(list_transform(range(56), b ->
       |      CASE WHEN L[(b // 8) * 9 + (b % 8) + 2] > L[(b // 8) * 9 + (b % 8) + 1]
       |           THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS dhash
       |  FROM xsurv s JOIN glums g USING (doc_id)
       |), spairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM sih a JOIN sih b ON b.doc_id > a.doc_id
       |  WHERE bit_count(xor(a.dhash, b.dhash)) <= ${graft.operators.multimodal.ImageHash.DefaultMaxHamming}
       |), sedges AS (
       |  SELECT a_id AS src, b_id AS dst FROM spairs
       |  UNION SELECT b_id, a_id FROM spairs
       |), sreach AS (
       |  SELECT src AS node, dst AS r FROM sedges
       |  UNION
       |  SELECT rc.node, e.dst FROM sreach rc JOIN sedges e ON rc.r = e.src
       |), scomp AS (
       |  SELECT node, MIN(r) AS rep FROM sreach GROUP BY node
       |), mem AS (
       |  SELECT s.doc_id, COALESCE(c.rep, s.doc_id) AS rep, s.n_exact
       |  FROM xsurv s LEFT JOIN scomp c ON c.node = s.doc_id
       |), keepers AS MATERIALIZED (
       |  SELECT rep AS doc_id, CAST(SUM(n_exact) AS BIGINT) AS n_source_items,
       |    CAST(COUNT(*) AS BIGINT) AS n_perceptual
       |  FROM mem GROUP BY rep
       |), knv AS (
       |  SELECT MAX(vec_id) + 1 AS n FROM embeddings
       |), kembjoin AS MATERIALIZED (
       |  SELECT k.doc_id, k.n_source_items, k.n_perceptual, e.vec_id, e.embedding
       |  FROM keepers k JOIN cfp ON cfp.doc_id = k.doc_id
       |  JOIN embeddings e
       |    ON e.vec_id = CAST('0x' || substr(cfp.f, 1, 8) AS BIGINT) % (SELECT n FROM knv)
       |),
       |${semFlagCtes(corpus, SemThreshold)}
       |SELECT ej.doc_id, ej.n_source_items, ej.n_perceptual, ej.vec_id,
       |  f.cluster_id, f.kept
       |FROM kembjoin ej JOIN semflags f ON f.vec_id = ej.doc_id""".stripMargin
  }

  /** q187: the THREE-MODALITY media ladder
    * ([[graft.pipelines.MediaCurationPipeline.runMixed]] — q183's
    * composition with every rung modality-dispatched over ONE
    * heterogeneous binary column, the q172 mixed-table shape at the
    * full-ladder grain): one decode per payload yields the
    * modality-tagged exact fingerprint AND that modality's perceptual
    * feature (pixel grid / energy profile / per-frame grids); exact
    * dedup runs over the union; perceptual pairs run per modality over
    * the exact survivors (41c banded image pairs, 41g banded audio
    * pairs, the 41h Hamming-tolerant video share rule); ONE CC over the
    * pair union yields mass-conserving keepers; keepers embed once and
    * ONE SemDeDup pass runs over the union. The oracle replays the
    * ENTIRE thing from raw documents + embeddings: all three decoders'
    * content (every pixel luminance, every scaled PCM16 sample, every
    * sampled frame), all three md5 fingerprints, the union collapse,
    * three perceptual pair rules, the recursive closure, the keeper
    * mass rollup, the md5-mod-n embed keys and the full q121 chain — a
    * mis-dispatched modality, a second decode drifting a feature, or a
    * cross-modality pair anywhere hash-fails.
    */
  def q187MixedLadder(spark: SparkSession, dir: String): DataFrame =
    graft.pipelines.MediaCurationPipeline.runMixed(
      SimilarityQueries.mixedCorpus(spark, dir),
      Tables.embeddings(spark, dir), "doc_id", "blob",
      threshold = SemThreshold, trainIters = TrainIters,
      dims = SimilarityQueries.Dims,
      oracleFlatLadder = true) // the oracle replays the flat ladder only

  def q187Oracle: String = {
    import graft.operators.multimodal.{AudioHash, ImageHash, VideoHash}
    val corpus = "SELECT doc_id AS vec_id, embedding FROM kembjoin"
    val raw = "((((seed % 9973) * 2654435761 + i * 1103515245 + 12345) " +
      "// 65536) % 65536) - 32768"
    // Java TRUNCATING division replayed with a floor-division engine:
    // trunc(s/dv) = sign(s)·(|s| // dv), |s| ≥ 0 making // exact
    val scaled = s"CASE WHEN ($raw) < 0 THEN -((-($raw)) // dv) " +
      s"ELSE ($raw) // dv END"
    val rawW = raw.replace(" i ", " ((w*n)//57 + j) ")
    val dhashFold =
      """CAST(list_sum(list_transform(range(56), b ->
        |      CASE WHEN L[(b // 8) * 9 + (b % 8) + 2] > L[(b // 8) * 9 + (b % 8) + 1]
        |           THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT)""".stripMargin
    s"""WITH RECURSIVE mgeo AS (
       |  SELECT doc_id, doc_id // 8 AS seed,
       |    (doc_id // 8) % 37 + 9 AS w,
       |    (doc_id // 8) % 29 + 7 AS h,
       |    CASE WHEN doc_id % 5 = 4 THEN ((doc_id // 8) % 37 + 9) // 9 ELSE 0 END AS pw,
       |    CASE WHEN doc_id % 5 = 4 THEN ((doc_id // 8) % 29 + 7) // 7 ELSE 0 END AS ph
       |  FROM documents WHERE doc_id % 3 = 0
       |), mplums AS (
       |  SELECT doc_id, w, h,
       |    list_transform(range(w * h), p -> ${SimilarityQueries.imagePixelLumSql}) AS L
       |  FROM mgeo
       |), mifp AS (
       |  SELECT doc_id,
       |    md5(CAST(w AS VARCHAR) || ':' || CAST(h AS VARCHAR) || ':' ||
       |      array_to_string(L, ':')) AS f
       |  FROM mplums
       |), mageo AS (
       |  SELECT doc_id, doc_id // 8 AS seed,
       |    171 + (doc_id // 8) % 450 AS n,
       |    8000 + (doc_id % 3) * 4000 AS rate,
       |    CASE WHEN doc_id % 5 = 4 THEN 4 ELSE 1 END AS dv
       |  FROM documents WHERE doc_id % 3 = 1
       |), msmp AS (
       |  SELECT doc_id, n, rate, list_transform(range(n), i -> $scaled) AS S
       |  FROM mageo
       |), mafp AS (
       |  SELECT doc_id,
       |    md5('wav:' || CAST(rate AS VARCHAR) || ':' || CAST(n AS VARCHAR) ||
       |      ':' || array_to_string(S, ':')) AS f
       |  FROM msmp
       |), mvgeo AS (
       |  SELECT doc_id,
       |    (doc_id // 8) % 21 + 9 AS w,
       |    (doc_id // 8) % 17 + 7 AS h,
       |    (doc_id // 8) * 100 +
       |      CASE WHEN doc_id % 4 = 3 THEN 4 ELSE 0 END AS base
       |  FROM documents WHERE doc_id % 3 = 2
       |), mvf1 AS (
       |  SELECT doc_id, w, h, base, unnest(range(6)) AS fidx FROM mvgeo
       |), mvf2 AS (
       |  SELECT doc_id, w, h, fidx, base + fidx AS seed, 0 AS pw, 0 AS ph
       |  FROM mvf1
       |), mvplums AS (
       |  SELECT doc_id, w, h, fidx,
       |    list_transform(range(w * h), p -> ${SimilarityQueries.imagePixelLumSql}) AS L
       |  FROM mvf2
       |), mvfp AS (
       |  SELECT doc_id,
       |    md5('avi:' || CAST(any_value(w) AS VARCHAR) || ':' ||
       |      CAST(any_value(h) AS VARCHAR) || ':' ||
       |      CAST(COUNT(*) AS VARCHAR) || ':' ||
       |      string_agg(array_to_string(L, ':'), '|' ORDER BY fidx)) AS f
       |  FROM mvplums GROUP BY doc_id
       |), mcfp AS MATERIALIZED (
       |  SELECT doc_id, f FROM mifp
       |  UNION ALL SELECT doc_id, f FROM mafp
       |  UNION ALL SELECT doc_id, f FROM mvfp
       |), msurv AS MATERIALIZED (
       |  SELECT f, MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_exact
       |  FROM mcfp GROUP BY f
       |), mglums AS (
       |  SELECT doc_id, list_transform(range(63), g -> ${SimilarityQueries.imageLumSql}) AS L
       |  FROM mgeo
       |), msih AS MATERIALIZED (
       |  SELECT s.doc_id, $dhashFold AS dhash
       |  FROM msurv s JOIN mglums g USING (doc_id)
       |), msipairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM msih a JOIN msih b ON b.doc_id > a.doc_id
       |  WHERE bit_count(xor(a.dhash, b.dhash)) <= ${ImageHash.DefaultMaxHamming}
       |), maprof AS (
       |  SELECT g.doc_id, g.n,
       |    list_transform(range(57), w ->
       |      list_sum(list_transform(range(((w+1)*g.n)//57 - (w*g.n)//57),
       |        j -> (abs($rawW) // dv)))) AS E
       |  FROM mageo g JOIN msurv s ON s.doc_id = g.doc_id
       |), mah AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(range(56), b ->
       |      CASE WHEN E[b+2] > E[b+1] THEN (1::BIGINT << b) ELSE 0::BIGINT END))
       |      AS BIGINT) AS ehash
       |  FROM maprof
       |), mapairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM mah a JOIN mah b ON b.doc_id > a.doc_id
       |  WHERE bit_count(xor(a.ehash, b.ehash)) <= ${AudioHash.DefaultMaxHamming}
       |), mvlums AS (
       |  SELECT doc_id, list_transform(range(63), g -> ${SimilarityQueries.imageLumSql}) AS L
       |  FROM mvf2
       |), mvh AS MATERIALIZED (
       |  SELECT DISTINCT v.doc_id, $dhashFold AS fhash
       |  FROM mvlums v JOIN msurv s ON s.doc_id = v.doc_id
       |), mvkept AS (
       |  SELECT * FROM mvh
       |  WHERE fhash IN (SELECT fhash FROM mvh GROUP BY 1
       |                  HAVING COUNT(*) <= ${VideoHash.DefaultMaxDf})
       |), mvpairs AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |      a.fhash AS ah, b.fhash AS bh
       |    FROM mvkept a JOIN mvkept b ON b.doc_id > a.doc_id
       |    WHERE bit_count(xor(a.fhash, b.fhash)) <= ${VideoHash.DefaultMaxHamming}
       |  ) GROUP BY 1, 2
       |  HAVING COUNT(*) >= ${VideoHash.DefaultMinShared}
       |), mpairs AS (
       |  SELECT a_id, b_id FROM msipairs
       |  UNION ALL SELECT a_id, b_id FROM mapairs
       |  UNION ALL SELECT a_id, b_id FROM mvpairs
       |), medges AS (
       |  SELECT a_id AS src, b_id AS dst FROM mpairs
       |  UNION SELECT b_id, a_id FROM mpairs
       |), mreach AS (
       |  SELECT src AS node, dst AS r FROM medges
       |  UNION
       |  SELECT rc.node, e.dst FROM mreach rc JOIN medges e ON rc.r = e.src
       |), mcomp AS (
       |  SELECT node, MIN(r) AS rep FROM mreach GROUP BY node
       |), mmem AS (
       |  SELECT s.doc_id, COALESCE(c.rep, s.doc_id) AS rep, s.n_exact
       |  FROM msurv s LEFT JOIN mcomp c ON c.node = s.doc_id
       |), mkeepers AS MATERIALIZED (
       |  SELECT rep AS doc_id, CAST(SUM(n_exact) AS BIGINT) AS n_source_items,
       |    CAST(COUNT(*) AS BIGINT) AS n_perceptual
       |  FROM mmem GROUP BY rep
       |), knv AS (
       |  SELECT MAX(vec_id) + 1 AS n FROM embeddings
       |), kembjoin AS MATERIALIZED (
       |  SELECT k.doc_id,
       |    CASE CAST(k.doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
       |         WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
       |    k.n_source_items, k.n_perceptual, e.vec_id, e.embedding
       |  FROM mkeepers k JOIN mcfp ON mcfp.doc_id = k.doc_id
       |  JOIN embeddings e
       |    ON e.vec_id = CAST('0x' || substr(mcfp.f, 1, 8) AS BIGINT) % (SELECT n FROM knv)
       |),
       |${semFlagCtes(corpus, SemThreshold)}
       |SELECT ej.doc_id, ej.modality, ej.n_source_items, ej.n_perceptual,
       |  ej.vec_id, f.cluster_id, f.kept
       |FROM kembjoin ej JOIN semflags f ON f.vec_id = ej.doc_id""".stripMargin
  }

  def q168Oracle: String = {
    val corpus = "SELECT doc_id AS vec_id, embedding FROM embjoin"
    s"""WITH ${SimilarityQueries.imageGeoCte}, plums AS (
       |  SELECT doc_id, w, h,
       |    list_transform(range(w * h), p -> ${SimilarityQueries.imagePixelLumSql}) AS L
       |  FROM geo
       |), cfp AS (
       |  SELECT doc_id,
       |    md5(CAST(w AS VARCHAR) || ':' || CAST(h AS VARCHAR) || ':' ||
       |      array_to_string(L, ':')) AS f
       |  FROM plums
       |), surv AS MATERIALIZED (
       |  SELECT f, MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
       |  FROM cfp GROUP BY f
       |), nv AS (
       |  SELECT MAX(vec_id) + 1 AS n FROM embeddings
       |), embjoin AS MATERIALIZED (
       |  SELECT s.doc_id, s.n_dups, e.vec_id, e.embedding
       |  FROM surv s JOIN embeddings e
       |    ON e.vec_id = CAST('0x' || substr(s.f, 1, 8) AS BIGINT) % (SELECT n FROM nv)
       |),
       |${semFlagCtes(corpus, SemThreshold)}
       |SELECT ej.doc_id, ej.n_dups, ej.vec_id, f.cluster_id, f.kept
       |FROM embjoin ej JOIN semflags f ON f.vec_id = ej.doc_id""".stripMargin
  }
}
