package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{OpCache, Par}
import graft.operators.dedup.{DupClusters, IncrementalClusters}
import graft.operators.multimodal.{AudioHash, AudioHashIndex, BinaryPipeline,
  ImageHash, ImageHashIndex, VideoHash, VideoHashIndex}
import graft.operators.similarity.{CosineTopK, LshAnn}

/** Similarity-search and multimodal queries (SURVEY §2 items 34-36, 41). */
object SimilarityQueries {

  val Dims = 64
  val K = 10

  /** q24: brute-force exact cosine top-10 for query vectors vec_id < 10. */
  def q24CosineTopk(spark: SparkSession, dir: String): DataFrame =
    CosineTopK.search(Tables.embeddings(spark, dir), "vec_id", "embedding",
      _ < 10, K)

  def q24Oracle: String = {
    val dot = (1 to Dims)
      .map(i => s"CAST(q.e[$i] AS DOUBLE)*CAST(c.e[$i] AS DOUBLE)")
      .mkString(" + ")
    val sumsq = (1 to Dims)
      .map(i => s"CAST(e[$i] AS DOUBLE)*CAST(e[$i] AS DOUBLE)")
      .mkString(" + ")
    s"""WITH n AS (
       |  SELECT vec_id, embedding AS e, sqrt($sumsq) AS nrm FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ($dot) / (q.nrm * c.nrm) AS cosine
       |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10
       |)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM scored) t
       |WHERE rank <= $K""".stripMargin
  }

  /** SQL fragments reproducing [[LshAnn.bucketKey]] bit-for-bit: the LCG
    * plane weights embed as double literals (Java shortest-repr round-trips
    * through DuckDB's parser) and each sign sum is in-element-order, so
    * both engines compute identical signatures. Shared by the q25 and q31
    * oracles. Returns (bucket column SQL for a SELECT over `embedding`,
    * any-table-collision predicate between aliases a and b).
    */
  private[queries] def lshBucketSql: (String, String) = {
    def bucket(t: Int) = (0 until LshAnn.PlanesPerTable)
      .map(p => s"(CASE WHEN (${lshPlaneDot(t, p)}) > 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")
    val bucketCols = (0 until LshAnn.NumTables)
      .map(t => s"(${bucket(t)}) AS bk_$t").mkString(",\n    ")
    val anyBucket = (0 until LshAnn.NumTables)
      .map(t => s"a.bk_$t = b.bk_$t").mkString(" OR ")
    (bucketCols, anyBucket)
  }

  private def lshPlaneDot(t: Int, p: Int) = (1 to Dims)
    .map(i => s"CAST(embedding[$i] AS DOUBLE)*${LshAnn.weight(t, p, i - 1)}")
    .mkString(" + ")

  /** Variable-width variant mirroring [[LshAnn.adaptivePlanes]]: emits all
    * [[LshAnn.MaxPlanes]] plane signs with each bit masked by the
    * corpus-count-derived `nb.bits` scalar. The ladder is pure integer
    * comparison — identical on any engine, no float log edge cases.
    * Returns (bits-CTE body over `table`, bucket column SQL that expects a
    * cross-joined `nb`, any-collision predicate).
    */
  private[queries] def lshBucketSqlAdaptive(table: String): (String, String, String) = {
    val ladder = (LshAnn.PlanesPerTable until LshAnn.MaxPlanes)
      .map(b => s"WHEN count(*) <= ${LshAnn.TargetOccupancy.toLong << b} THEN $b")
      .mkString(" ")
    val bitsCte = s"SELECT CASE $ladder ELSE ${LshAnn.MaxPlanes} END AS bits FROM $table"
    def bucket(t: Int) = (0 until LshAnn.MaxPlanes)
      .map(p => s"(CASE WHEN $p < nb.bits AND (${lshPlaneDot(t, p)}) > 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")
    val bucketCols = (0 until LshAnn.NumTables)
      .map(t => s"(${bucket(t)}) AS bk_$t").mkString(",\n    ")
    val anyBucket = (0 until LshAnn.NumTables)
      .map(t => s"a.bk_$t = b.bk_$t").mkString(" OR ")
    (bitsCte, bucketCols, anyBucket)
  }

  /** q25: random-hyperplane LSH ANN (LshAnn.NumTables tables ×
    * LshAnn.PlanesPerTable planes). Fully oracle-gated: the DuckDB oracle
    * rebuilds the bucket signatures from the same embedded weights, so the
    * approximate result is checked EXACTLY (candidates, cosines, ranks);
    * recall vs q24 is additionally asserted in SimilaritySpec.
    */
  def q25LshAnn(spark: SparkSession, dir: String): DataFrame =
    LshAnn.search(Tables.embeddings(spark, dir), "vec_id", "embedding",
      _ < 10, K, Dims)

  def q25Oracle: String = {
    val dot = (1 to Dims)
      .map(i => s"CAST(q.embedding[$i] AS DOUBLE)*CAST(c.embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    val sumsq = (1 to Dims)
      .map(i => s"CAST(embedding[$i] AS DOUBLE)*CAST(embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    val (bucketCols, anyBucket) = lshBucketSql
    val collide = anyBucket.replace("a.bk_", "q.bk_").replace("b.bk_", "c.bk_")
    s"""WITH v AS (
       |  SELECT vec_id, embedding, sqrt($sumsq) AS nrm,
       |    $bucketCols
       |  FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ($dot) / (q.nrm * c.nrm) AS cosine
       |  FROM v q JOIN v c ON c.vec_id <> q.vec_id AND ($collide)
       |  WHERE q.vec_id < 10
       |)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM scored) t
       |WHERE rank <= $K""".stripMargin
  }

  /** q30: multimodal binary pipeline over REAL image bytes — each document
    * materializes a deterministic 24-bit BMP (dimensions from n_chars,
    * pixels from a bounded LCG over doc_id), and decodeFeatures parses it
    * with the JVM's actual codec (javax.imageio). The oracle PREDICTS every
    * output from the encoding spec: dimensions, exact file size, and the
    * checksum over the first ≤64 decoded pixels (BMP rows are stored
    * bottom-up, so decoded pixel (x,y) reads file row h-1-y) — if the
    * encoder emitted malformed BMPs or the decoder misparsed them, the
    * dimensions/checksum would diverge and the gate would fail.
    */
  def q30Multimodal(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"),
        (coalesce(col("n_chars"), lit(0L)) % 64 + 1).as("w"),
        (coalesce(col("n_chars"), lit(0L)) % 48 + 1).as("h"),
        col("doc_id").as("seed"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"))
    val blobs = BinaryPipeline.encodeBmp(spark, d, "doc_id",
      "w", "h", "seed", "n_chars")
    BinaryPipeline.decodeFeatures(spark, blobs, "doc_id", "blob", "n_chars")
  }

  /** q95: REAL audio decode ([[BinaryPipeline.audioFeatures]]) — one
    * deterministic PCM16 WAV per document ([[graft.operators.multimodal.Wav]]),
    * decoded through javax.sound.sampled (the JVM's actual codec path),
    * gated on the decoded-sample statistics: the oracle predicts
    * n_samples, duration, Σs², peak and rms from the generator formula,
    * so a malformed header, an endianness slip or a frame-accounting bug
    * anywhere in encode→AudioSystem→features diverges the gate.
    */
  def q95Audio(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"),
        (coalesce(col("n_chars"), lit(0L)) % 300 + 50).as("n"),
        lit(8000).as("rate"), col("doc_id").as("seed"))
    val blobs = BinaryPipeline.encodeWav(spark, d, "doc_id", "n", "rate", "seed")
    BinaryPipeline.audioFeatures(spark, blobs, "doc_id", "blob")
  }

  /** q96: REAL video — one deterministic DIB-frames AVI per document
    * ([[graft.operators.multimodal.Avi]]), demuxed by the RIFF chunk
    * walker inside [[BinaryPipeline.frameSample]] (≤3 evenly spaced
    * frames), each demuxed frame re-wrapped as BMP and REAL-decoded by
    * [[BinaryPipeline.decodeFeatures]] (javax.imageio). Gate: the oracle
    * predicts, per (doc, sampled frame), the source-frame index chosen by
    * the even sampler AND the decoded-pixel checksum of that frame — a
    * container-layout bug, demux slip or frame-indexing error diverges.
    * (doc, frame) ride decodeFeatures' single id as a composite key.
    */
  def q96Video(spark: SparkSession, dir: String): DataFrame = {
    val W = 16
    val H = 12
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), lit(W).as("w"), lit(H).as("h"),
        (coalesce(col("n_chars"), lit(0L)) % 6 + 2).as("nf"),
        col("doc_id").as("seed"))
    val blobs = BinaryPipeline.encodeAvi(spark, d, "doc_id", "w", "h", "nf", "seed")
    val sampled = BinaryPipeline.frameSample(spark, blobs, "doc_id", "blob",
      frames = 3)
    // radix-100 packing: holds for frame_no/src_frame < 100, loudly
    // asserted in-plan rather than silently digit-overlapping if the
    // sampler width or frame-count formula is ever widened
    val keyed = sampled.select(
      when(col("frame_no") < 100 && col("src_frame") < 100,
          col("doc_id") * 10000 + col("frame_no") * 100 + col("src_frame"))
        .otherwise(raise_error(lit("q96 fkey packing overflow: widen the radix")))
        .as("fkey"),
      col("frame_bytes"), lit(0L).as("m"))
    BinaryPipeline.decodeFeatures(spark, keyed, "fkey", "frame_bytes", "m")
      .select((col("doc_id") / 10000).cast("long").as("doc_id"),
        ((col("doc_id") % 10000) / 100).cast("int").as("frame_no"),
        (col("doc_id") % 100).cast("int").as("src_frame"),
        col("byte_len"), col("width"), col("height"), col("checksum"),
        col("format"))
  }

  /** Shared derivation for the image-dedup gates (q166/q167): documents
    * become REAL images with planted duplicate structure, all of it
    * replayable —
    *   - seed = doc_id DIV 8: groups of ≤8 consecutive ids share one
    *     image (group SIZE stays constant as the corpus grows — group
    *     COUNT scales, so pair output stays linear in n);
    *   - dims from the seed (twins agree): w ∈ [9,45], h ∈ [7,35];
    *   - doc_id % 5 = 4 rows take the one-grid-cell corner patch
    *     ([[BinaryPipeline.encodeBmpPatched]], pw = w DIV 9 / ph =
    *     h DIV 7 confine it to sampled cell (0,0)) — a planted NEAR-dup
    *     at dHash Hamming ≤ 1 from its unpatched twins;
    *   - doc_id % 3 = 0 rows are TRANSCODED to PNG
    *     ([[BinaryPipeline.transcode]]) — byte-disjoint payloads whose
    *     decoded pixels (and therefore hashes) must match their BMP
    *     twins exactly, the cross-codec invariance a lexical
    *     fingerprint can never see.
    */
  private[graft] def imageCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(
      col("doc_id"),
      expr("doc_id DIV 8").as("seed"),
      (expr("doc_id DIV 8") % 37 + 9).as("w"),
      (expr("doc_id DIV 8") % 29 + 7).as("h"))
      .withColumn("pw", when(col("doc_id") % 5 === 4,
        expr("w DIV 9")).otherwise(lit(0)))
      .withColumn("ph", when(col("doc_id") % 5 === 4,
        expr("h DIV 7")).otherwise(lit(0)))
    val blobs = BinaryPipeline.encodeBmpPatched(spark, d, "doc_id",
      "w", "h", "seed", "pw", "ph", patchValue = 128)
    val bmp = blobs.filter(col("doc_id") % 3 =!= 0)
    val png = BinaryPipeline.transcode(spark,
        blobs.filter(col("doc_id") % 3 === 0), "doc_id", "blob", "png")
      .select(col("doc_id"), col("blob"))
    bmp.unionByName(png)
  }

  /** q166: image perceptual HASHES over REAL decoded pixels — dHash +
    * aHash ([[graft.plans.ImageGridHash]] codegen) on the
    * [[imageCorpus]] derivation. The oracle PREDICTS both 56-bit hashes
    * per document from the encoding spec alone: the sampled-grid
    * geometry, the LCG pixel bytes (BMP bottom-up rows), the corner
    * patch, and the bit folds — and the PNG-transcoded third of the
    * corpus must hash identically to its BMP construction (the oracle
    * computes one formula for both codecs; only `format` differs), so a
    * decode slip in EITHER codec path diverges the gate.
    */
  def q166ImageHash(spark: SparkSession, dir: String): DataFrame =
    ImageHash.hashes(spark, imageCorpus(spark, dir), "doc_id", "blob")

  /** LCG luminance of sampled grid cell g (0..62, row-major gy·9+gx)
    * for the (w, h, seed, pw, ph) geometry row — the q30 replay plus
    * the patch CASE.
    */
  private[queries] def imageLumSql: String = {
    val px = "((g % 9) * w // 9)"
    val py = "((g // 9) * h // 7)"
    val base = s"((h - 1 - $py) * ((3 * w + 3) // 4 * 4) + 3 * $px)"
    def byteAt(off: Int) =
      s"((((seed % 9973) * 2654435761 + ($base + $off) * 1103515245 + 12345) // 65536) % 256)"
    s"CASE WHEN $px < pw AND $py < ph THEN 384 " +
      s"ELSE ${byteAt(0)} + ${byteAt(1)} + ${byteAt(2)} END"
  }

  /** CTE chain ending in `ih(doc_id, width, height, format, dhash,
    * ahash)` — the full [[q166ImageHash]] replay, shared with q167.
    */
  /** The [[imageCorpus]] geometry as a CTE body — shared by the q166/
    * q167 grid replays and q168's full-pixel fingerprint replay.
    */
  private[queries] def imageGeoCte: String =
    """geo AS (
      |  SELECT doc_id, doc_id // 8 AS seed,
      |    (doc_id // 8) % 37 + 9 AS w,
      |    (doc_id // 8) % 29 + 7 AS h,
      |    CASE WHEN doc_id % 5 = 4 THEN ((doc_id // 8) % 37 + 9) // 9 ELSE 0 END AS pw,
      |    CASE WHEN doc_id % 5 = 4 THEN ((doc_id // 8) % 29 + 7) // 7 ELSE 0 END AS ph
      |  FROM documents
      |)""".stripMargin

  /** LCG luminance of FULL-RES pixel p (row-major y·w+x, top-down image
    * coords) for a geo row — q168's fingerprint replay (grid cells use
    * [[imageLumSql]] instead).
    */
  private[queries] def imagePixelLumSql: String = {
    val x = "(p % w)"
    val y = "(p // w)"
    val base = s"((h - 1 - $y) * ((3 * w + 3) // 4 * 4) + 3 * $x)"
    def byteAt(off: Int) =
      s"((((seed % 9973) * 2654435761 + ($base + $off) * 1103515245 + 12345) // 65536) % 256)"
    s"CASE WHEN $x < pw AND $y < ph THEN 384 " +
      s"ELSE ${byteAt(0)} + ${byteAt(1)} + ${byteAt(2)} END"
  }

  private def imageHashCtes: String =
    s"""$imageGeoCte, lums AS (
       |  SELECT doc_id, w, h,
       |    list_transform(range(63), g -> $imageLumSql) AS L
       |  FROM geo
       |), lsum AS (
       |  SELECT *, list_sum(list_transform(range(56), c ->
       |    L[(c // 8) * 9 + (c % 8) + 1])) AS asum
       |  FROM lums
       |), ih AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image/png' ELSE 'image/bmp' END AS format,
       |    CAST(list_sum(list_transform(range(56), b ->
       |      CASE WHEN L[(b // 8) * 9 + (b % 8) + 2] > L[(b // 8) * 9 + (b % 8) + 1]
       |           THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS dhash,
       |    CAST(list_sum(list_transform(range(56), b ->
       |      CASE WHEN L[(b // 8) * 9 + (b % 8) + 1] * 56 > asum
       |           THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS ahash
       |  FROM lsum
       |)""".stripMargin

  def q166Oracle: String =
    s"""WITH $imageHashCtes
       |SELECT doc_id, width, height, format, dhash, ahash FROM ih""".stripMargin

  /** q167: image NEAR-DUP pairs — banded Hamming retrieval
    * ([[ImageHash.nearDupPairs]], 3 bands of ~19 bits, radius
    * [[ImageHash.DefaultMaxHamming]]) over the q166 hashes. Banding at
    * maxHamming < bands is EXACT (pigeonhole), so the oracle replays the
    * result as a plain quadratic xor/popcount join over the replayed
    * hashes: exact-dup twins (same seed) surface at ham_d 0 across
    * codecs, the patched corner twins at ham_d ≤ 1 — if the banding
    * missed a pair, produced a phantom, or the hash drifted, the gate
    * diverges.
    */
  def q167ImageNearDup(spark: SparkSession, dir: String): DataFrame =
    ImageHash.nearDupPairs(
      ImageHash.hashes(spark, imageCorpus(spark, dir), "doc_id", "blob"),
      "doc_id")

  def q167Oracle: String =
    s"""WITH $imageHashCtes
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS ham_d,
       |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS ham_a
       |FROM ih a JOIN ih b ON b.doc_id > a.doc_id
       |WHERE bit_count(xor(a.dhash, b.dhash)) <= ${ImageHash.DefaultMaxHamming}""".stripMargin

  /** Shared derivation for the audio-dedup gates (q173/q174): documents
    * become REAL WAV recordings with planted duplicate structure, all of
    * it replayable —
    *   - seed = doc_id DIV 8: groups of ≤8 consecutive ids share one
    *     recording (constant group SIZE — the pair output stays linear
    *     in n, the imageCorpus discipline);
    *   - n = 171 + seed % 450 samples (twins agree; ≥ 3 samples per
    *     profile window);
    *   - rate = 8000 + (doc_id % 3)·4000 — RE-HEADERED twins: the rate
    *     lives only in the WAV header, so group members are
    *     byte-DIFFERENT files carrying identical samples (what a
    *     lexical fingerprint can never collapse);
    *   - doc_id % 5 = 4 rows are VOLUME-SCALED ([[Wav.encodeScaled]],
    *     div 4) — a planted perceptual near-dup whose every decoded
    *     sample the oracle still predicts (`abs(s) // 4`).
    */
  private[graft] def audioCorpus(spark: SparkSession, dir: String): DataFrame =
    BinaryPipeline.encodeWavScaled(spark,
      Tables.documents(spark, dir).select(
        col("doc_id"),
        (expr("doc_id DIV 8") % 450 + 171).as("n"),
        ((col("doc_id") % 3) * 4000 + 8000).as("rate"),
        expr("doc_id DIV 8").as("seed"),
        when(col("doc_id") % 5 === 4, lit(4)).otherwise(lit(1)).as("dv")),
      "doc_id", "n", "rate", "seed", "dv")

  /** q173: audio perceptual HASHES over REAL decoded PCM16 samples —
    * the [[graft.plans.EnergyDiffHash]] energy-profile difference hash
    * ([[AudioHash.hashes]]) on the [[audioCorpus]] derivation. The
    * oracle PREDICTS the 56-bit hash per document from the encoding
    * spec alone: the LCG sample stream, the volume divisor, the
    * 57-window integer split, Σ|s| per window, and the bit fold — so a
    * decode slip anywhere in the javax.sound path diverges the gate.
    */
  def q173AudioHash(spark: SparkSession, dir: String): DataFrame =
    AudioHash.hashes(spark, audioCorpus(spark, dir), "doc_id", "blob")

  /** CTE chain ending in `ah(doc_id, sample_rate, n_samples, ehash)` —
    * the full [[q173AudioHash]] replay, shared with q174. Sample i of
    * the stream is `(lcg(seed,i) % 65536) - 32768` (the q95 replay);
    * window w spans [w·n DIV 57, (w+1)·n DIV 57).
    */
  private def audioHashCtes: String = {
    def sampleAbs =
      "(abs(((((seed % 9973) * 2654435761 + ((w*n)//57 + j) * 1103515245 " +
        "+ 12345) // 65536) % 65536) - 32768) // dv)"
    s"""ageo AS (
       |  SELECT doc_id, doc_id // 8 AS seed,
       |    171 + (doc_id // 8) % 450 AS n,
       |    CASE WHEN doc_id % 5 = 4 THEN 4 ELSE 1 END AS dv
       |  FROM documents
       |), aprof AS (
       |  SELECT doc_id, n,
       |    list_transform(range(57), w ->
       |      list_sum(list_transform(range(((w+1)*n)//57 - (w*n)//57),
       |        j -> $sampleAbs))) AS E
       |  FROM ageo
       |), ah AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
       |    CAST(n AS BIGINT) AS n_samples,
       |    CAST(list_sum(list_transform(range(56), b ->
       |      CASE WHEN E[b+2] > E[b+1] THEN (1::BIGINT << b) ELSE 0::BIGINT END))
       |      AS BIGINT) AS ehash
       |  FROM aprof
       |)""".stripMargin
  }

  def q173Oracle: String =
    s"""WITH $audioHashCtes
       |SELECT doc_id, sample_rate, n_samples, ehash FROM ah""".stripMargin

  /** q174: audio NEAR-DUP pairs — the banded Hamming retrieval q167
    * proved, on the q173 hashes ([[AudioHash.nearDupPairs]], 3 bands of
    * ~19 bits, radius 2, exact by pigeonhole). The oracle replays the
    * full Hamming ball as a quadratic xor/popcount join over the
    * replayed hashes: re-headered twins (same seed, different rate
    * byte-patterns) surface at ham_e 0, the volume-scaled twins at
    * ham_e ≤ 2 wherever truncation leaves the window comparisons intact
    * — and a missed pair, a phantom, or an energy slip diverges the
    * gate at any SF.
    */
  def q174AudioNearDup(spark: SparkSession, dir: String): DataFrame =
    AudioHash.nearDupPairs(
      AudioHash.hashes(spark, audioCorpus(spark, dir), "doc_id", "blob"),
      "doc_id")

  def q174Oracle: String =
    s"""WITH $audioHashCtes
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.ehash, b.ehash)) AS INTEGER) AS ham_e
       |FROM ah a JOIN ah b ON b.doc_id > a.doc_id
       |WHERE bit_count(xor(a.ehash, b.ehash)) <= ${AudioHash.DefaultMaxHamming}""".stripMargin

  /** Shared derivation for the video near-dup gate (q175): documents
    * become REAL 6-frame DIB-AVI videos with planted overlap structure —
    *   - group g = doc_id DIV 8; frame geometry from g (w ∈ [9,29],
    *     h ∈ [7,23]; constant group size, the imageCorpus discipline);
    *   - frame seeds base..base+5 with base = g·100 (+4 for the
    *     doc_id % 4 = 3 rows): unshifted group members carry IDENTICAL
    *     footage (6 shared frames), the two shifted members overlap the
    *     rest in exactly 2 frames (below the share threshold — caught
    *     only by each other) and each other in 6;
    *   - the ·100 stride keeps adjacent groups' frame seeds disjoint.
    */
  private[graft] def videoCorpus(spark: SparkSession, dir: String): DataFrame =
    BinaryPipeline.encodeAvi(spark,
      Tables.documents(spark, dir).select(
        col("doc_id"),
        (expr("doc_id DIV 8") % 21 + 9).as("w"),
        (expr("doc_id DIV 8") % 17 + 7).as("h"),
        lit(6).as("nf"),
        (expr("doc_id DIV 8") * 100 +
          when(col("doc_id") % 4 === 3, 4).otherwise(0)).as("seed")),
      "doc_id", "w", "h", "nf", "seed")

  /** The THREE-MODALITY corpus for the q187 mixed ladder: one binary
    * column, payload modality keyed by doc_id % 3 — 0 → the
    * [[imageCorpus]] derivation (this residue class is its
    * PNG-transcoded third), 1 → the [[audioCorpus]] derivation (the
    * volume-div-4 twins at doc_id % 5 = 4 survive the filter; rate is
    * constant within the class), 2 → the [[videoCorpus]] derivation
    * (shifted members at doc_id ≡ 11 mod 12). Every modality keeps
    * seed-group (doc_id DIV 8) duplicate structure inside its residue
    * class — 2–3 same-seed members per group — so exact AND perceptual
    * collapses are exercised per modality.
    */
  private[graft] def mixedCorpus(spark: SparkSession, dir: String): DataFrame =
    imageCorpus(spark, dir).filter(col("doc_id") % 3 === 0)
      .unionByName(audioCorpus(spark, dir).filter(col("doc_id") % 3 === 1))
      .unionByName(videoCorpus(spark, dir).filter(col("doc_id") % 3 === 2))

  /** q175: VIDEO near-dup pairs — frame-sample hashing
    * ([[VideoHash]]): demux each AVI's frames (the q96 path), hash each
    * through the 41b perceptual grid hash, route per-frame candidates
    * through the BANDED Hamming retrieval (round 20 — radius 2, exact
    * by pigeonhole; the r19 exact-equality join silently lost the vote
    * of any frame a re-encode perturbed by 1–2 bits), pair videos with
    * ≥ 3 distinct near-matching hash-pairs (hot exact-hashes DF-capped
    * first). The oracle replays the whole chain from the encoding spec:
    * per-frame LCG pixels → sampled grids → dHashes → DF cap → the
    * band split (shifts/masks from [[ImageHash.bandWidths]]) → the
    * popcount cut → the distinct-hash-pair share count —
    * identical-footage twins must surface at n_shared = 6, the shifted
    * pair at 6, shifted-vs-unshifted overlaps (2 frames) must NOT, so
    * a hash slip, a band slip and a threshold slip all diverge.
    */
  def q175VideoNearDup(spark: SparkSession, dir: String): DataFrame =
    VideoHash.nearDupPairs(
      VideoHash.frameHashes(spark, videoCorpus(spark, dir), "doc_id",
        "blob", frames = 8),
      "doc_id")

  /** CTE chain ending in `vpairs(a_id, b_id, n_shared)` — the full
    * [[q175VideoNearDup]] replay shared by q175/q180/q184: per-frame
    * LCG grids → 56-bit frame dHashes → the exact-hash DF cap → BANDED
    * frame-level Hamming retrieval (band shifts/masks emitted from
    * [[ImageHash.bandWidths]], so both engines band identically; exact
    * at radius < bands by pigeonhole) → DISTINCT matching hash-pairs
    * counted per video pair against the share threshold.
    */
  private[graft] def videoPairCtes: String = {
    val bands = VideoHash.DefaultMaxHamming + 1
    val widths = ImageHash.bandWidths(bands)
    val offsets = widths.scanLeft(0)(_ + _).init
    val keys = (0 until bands).map { b =>
      s"  SELECT doc_id, fhash, $b AS band, " +
        s"(fhash >> ${offsets(b)}) & ${(1L << widths(b)) - 1} AS key FROM vkept"
    }.mkString("\n  UNION ALL\n")
    s"""vgeo AS (
       |  SELECT doc_id,
       |    (doc_id // 8) % 21 + 9 AS w,
       |    (doc_id // 8) % 17 + 7 AS h,
       |    (doc_id // 8) * 100 +
       |      CASE WHEN doc_id % 4 = 3 THEN 4 ELSE 0 END AS base
       |  FROM documents
       |), vframes AS (
       |  SELECT doc_id, w, h, base + unnest(range(6)) AS seed,
       |    0 AS pw, 0 AS ph
       |  FROM vgeo
       |), vlums AS (
       |  SELECT doc_id, list_transform(range(63), g -> $imageLumSql) AS L
       |  FROM vframes
       |), vh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    CAST(list_sum(list_transform(range(56), b ->
       |      CASE WHEN L[(b // 8) * 9 + (b % 8) + 2] > L[(b // 8) * 9 + (b % 8) + 1]
       |           THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS fhash
       |  FROM vlums
       |), vkept AS MATERIALIZED (
       |  SELECT * FROM vh
       |  WHERE fhash IN (SELECT fhash FROM vh GROUP BY 1
       |                  HAVING COUNT(*) <= ${VideoHash.DefaultMaxDf})
       |), vkeys AS (
       |$keys
       |), vcand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.fhash AS ah, b.fhash AS bh
       |  FROM vkeys a JOIN vkeys b
       |    ON a.band = b.band AND a.key = b.key AND b.doc_id > a.doc_id
       |  WHERE bit_count(xor(a.fhash, b.fhash)) <= ${VideoHash.DefaultMaxHamming}
       |), vpairs AS MATERIALIZED (
       |  SELECT a_id, b_id, CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM vcand GROUP BY 1, 2
       |  HAVING COUNT(*) >= ${VideoHash.DefaultMinShared}
       |)""".stripMargin
  }

  def q175Oracle: String =
    s"""WITH $videoPairCtes
       |SELECT a_id, b_id, n_shared FROM vpairs""".stripMargin

  final case class ImgEvent(doc_id: Long, blob: Array[Byte])

  /** One crawl day of a media corpus: doc_id % 3 splits every duplicate
    * group (and its transcoded, patched, re-headered or shifted members)
    * ACROSS days, so cross-batch pairing is exercised, not just
    * within-batch.
    */
  private def crawlDay(corpus: DataFrame, day: Int): DataFrame =
    corpus.filter(col("doc_id") % 3 === day)

  /** q181: STREAMING image-index maintenance
    * ([[graft.streaming.ImageIndexStreamSink]] — the q152 sink
    * discipline for the 41i index): the image corpus arrives through a
    * REAL MemoryStream in three interleaved micro-batches (doc_id % 3 —
    * dup groups split ACROSS batches), each appended to the on-disk
    * banded index via foreachBatch; the LAST batch is then re-applied
    * directly and must NO-OP on the pairs-ledger marker (the retry
    * surface). The gated result is the ledger read back from DISK, and
    * the oracle is q167's one-shot Hamming-ball replay — the
    * batching-invariance monoid contract checked by an engine that
    * never saw the batching, with a double-applied retry diverging
    * rows.
    */
  def q181ImageIndexStream(spark: SparkSession, dir: String): DataFrame = {
    val idxDir = s"${PipelineQueries.freshDir("q181")}/index"
    import spark.implicits._
    val corpus = OpCache.cache(imageCorpus(spark, dir))
    val sink = graft.streaming.ImageIndexStreamSink.appendBatch(
      idxDir, "doc_id", "blob") _
    val batches = FeedHarness.batchesOf(
      corpus.select((col("doc_id") % 3).as("b"), col("doc_id"),
        col("blob")), "b")(r => ImgEvent(r.getLong(1), r.getAs[Array[Byte]](2)))
    FeedHarness.driveForeach(spark, batches)(sink)
    // retry of the LAST applied batch id — must no-op on the marker
    sink(crawlDay(corpus, 2).select(col("doc_id"), col("blob")), 2L)
    graft.streaming.ImageIndexStreamSink.readPairs(spark, idxDir)
  }

  /** q182: image-index COMPACTION invariance — the 41i/41l maintenance
    * step gated end-to-end: two daily appends land, the postings table
    * COMPACTS (every batch dir folds into one through the #49e
    * retire-swap), then a third day appends AGAINST THE COMPACTED
    * STORE. The union of the three ledger outputs must still equal
    * q167's one-shot Hamming-ball replay — a row lost or doubled by the
    * fold, or a post-compaction append that misses stored buckets,
    * diverges. The in-plan require pins that a real fold happened (two
    * dirs → one), so the gate cannot silently pass by never compacting.
    */
  def q182ImageIndexCompact(spark: SparkSession, dir: String): DataFrame = {
    val idxDir = s"${PipelineQueries.freshDir("q182")}/index"
    val corpus = OpCache.cache(imageCorpus(spark, dir))
    // materialized (the checkpoint is eager): compaction now folds the
    // PAIRS ledger too, so a lazy frame over a pre-compaction batch dir
    // would dangle — the documented maintenance-window contract
    // (OpCache.checkpoint also releases the blocks with the query scope)
    val early = (0 until 2).map { day =>
      OpCache.checkpoint(ImageHashIndex.append(spark, idxDir,
        crawlDay(corpus, day), "doc_id", "blob"))
    }
    val folded = ImageHashIndex.compact(spark, idxDir)
    require(folded == 2, s"compaction must fold both batch dirs, got $folded")
    require(ImageHashIndex.compact(spark, idxDir) == 0,
      "re-running compaction on a compact index must be a no-op")
    val late = ImageHashIndex.append(spark, idxDir,
      crawlDay(corpus, 2), "doc_id", "blob")
    (early :+ late).reduce(_ unionByName _)
  }

  /** One media modality of the dedup gates: the corpus derivation, the
    * one-shot near-dup pairing over it, the append into the modality's
    * incremental banded index (see
    * [[graft.operators.multimodal.BandedHashIndex]]), and the oracle CTE
    * chain that replays the pairing, ending in `${prefix}pairs(a_id,
    * b_id, ...)`. Every media gate shape below is written once over a
    * row; the rows differ only in these five values.
    */
  private[graft] final case class Modality(name: String,
      corpus: (SparkSession, String) => DataFrame,
      pairs: (SparkSession, DataFrame) => DataFrame,
      append: (SparkSession, String, DataFrame) => DataFrame,
      pairCtes: String) {
    def prefix: String = name.take(1)
  }

  /** The full Hamming ball over a replayed hash CTE — exact, because the
    * banded retrieval is exact by pigeonhole at radius < bands.
    */
  private def hammingPairsCte(name: String, hashes: String, hash: String,
                              radius: Int): String =
    s"""$name AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM $hashes a JOIN $hashes b ON b.doc_id > a.doc_id
       |  WHERE bit_count(xor(a.$hash, b.$hash)) <= $radius
       |)""".stripMargin

  /** Images: q166 dHash → q167 banded pairs → q178's index. */
  private[graft] val Image = Modality("image", imageCorpus,
    (spark, c) => ImageHash.nearDupPairs(
      ImageHash.hashes(spark, c, "doc_id", "blob"), "doc_id"),
    (spark, idx, c) => ImageHashIndex.append(spark, idx, c, "doc_id", "blob"),
    s"$imageHashCtes, " +
      hammingPairsCte("ipairs", "ih", "dhash", ImageHash.DefaultMaxHamming))

  /** Sound: q173 energy hash → q174 banded pairs → q185's index. */
  private[graft] val Audio = Modality("audio", audioCorpus,
    (spark, c) => AudioHash.nearDupPairs(
      AudioHash.hashes(spark, c, "doc_id", "blob"), "doc_id"),
    (spark, idx, c) => AudioHashIndex.append(spark, idx, c, "doc_id", "blob"),
    s"$audioHashCtes, " +
      hammingPairsCte("apairs", "ah", "ehash", AudioHash.DefaultMaxHamming))

  /** Video: q175 frame hashes and share rule (8 sampled frames) → q189's
    * index.
    */
  private[graft] val Video = Modality("video", videoCorpus,
    (spark, c) => VideoHash.nearDupPairs(
      VideoHash.frameHashes(spark, c, "doc_id", "blob", frames = 8),
      "doc_id"),
    (spark, idx, c) => VideoHashIndex.append(spark, idx, c, "doc_id", "blob",
      frames = 8),
    videoPairCtes)

  private val Modalities = Seq(Image, Audio, Video)

  /** Transitive closure over `pairsCte(a_id, b_id)` as a recursive CTE
    * (the q52 discipline), ending in `${prefix}comp(node, rep)` with rep
    * the minimum id in node's component.
    */
  private def closureCtes(prefix: String, pairsCte: String): String =
    s"""${prefix}edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM $pairsCte
       |  UNION SELECT b_id, a_id FROM $pairsCte
       |), ${prefix}reach AS (
       |  SELECT src AS node, dst AS r FROM ${prefix}edges
       |  UNION
       |  SELECT rc.node, e.dst FROM ${prefix}reach rc JOIN ${prefix}edges e ON rc.r = e.src
       |), ${prefix}comp AS (
       |  SELECT node, MIN(r) AS rep FROM ${prefix}reach GROUP BY node
       |)""".stripMargin

  /** A modality's pair replay followed by its closure. */
  private def componentCtes(m: Modality): String =
    s"${m.pairCtes}, ${closureCtes(m.prefix, s"${m.prefix}pairs")}"

  /** q171 (image) / q179 (audio) / q180 (video): duplicate CLUSTERS —
    * the multimodal×CC composition closing each media-dedup story
    * (hashes → banded pairs → the q52 transitive-closure substrate,
    * pre-contracted). A re-encoded BMP/PNG twin and its patched near-dup,
    * a re-headered recording and its volume-scaled twin, identical
    * footage: each lands in ONE cluster with the min doc_id as the
    * deterministic keeper — what a LAION-class pipeline keeps per item.
    * Video's 2-frame-overlap decoys stay OUTSIDE the unshifted cluster
    * but chain to each other. The oracle replays hashes, the full pair
    * rule and the closure as a recursive CTE.
    */
  def mediaClusters(m: Modality): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      // cached: components() consumes its pair input three times (node
      // universe both ways + the pre-contraction pass) and the pair
      // lineage is the whole decode→hash→band join
      val pairs = OpCache.cache(m.pairs(spark, m.corpus(spark, dir)))
      DupClusters.components(pairs, "a_id", "b_id")
        .select(col("node").as("doc_id"), col("cluster_rep"),
          col("cluster_size"))
    }

  def mediaClustersOracle(m: Modality): String =
    s"""WITH RECURSIVE ${componentCtes(m)}
       |SELECT c.node AS doc_id, c.rep AS cluster_rep, cnt.cluster_size
       |FROM ${m.prefix}comp c
       |JOIN (SELECT rep, COUNT(*) AS cluster_size
       |      FROM ${m.prefix}comp GROUP BY 1) cnt USING (rep)""".stripMargin

  /** q178 (image) / q185 (audio) / q189 (video): INCREMENTAL media-hash
    * index — the daily-append discipline of the generic banded index.
    * The corpus arrives as three [[crawlDay]]s, each appended to a fresh
    * on-disk index; the union of the per-append new-pair outputs must
    * equal the ONE-SHOT batch pairing, so the oracle IS the modality's
    * pair gate (q167/q174/q175). Video appends index each day's distinct
    * (video, frame-hash) postings and return the COMPLETE (a_id, b_id,
    * n_shared) of the video pairs new that day (videos arrive
    * atomically). A double-counted pair (re-pairing a stored bucket), a
    * missed cross-day pair (delta not probed against the store), a
    * same-video self-pair, or an arrival-order leak (pairs ordered by
    * arrival instead of id) diverges rows or hashes.
    */
  def mediaIndex(gate: String, m: Modality): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      val idxDir = s"${PipelineQueries.freshDir(gate)}/index"
      val corpus = OpCache.cache(m.corpus(spark, dir))
      (0 until 3).map(day => m.append(spark, idxDir, crawlDay(corpus, day)))
        .reduce(_ unionByName _)
    }

  /** The three crawl days of `corpus` through m's index at `indexDir`,
    * each day's new pairs folded into the cluster state at `stateDir`
    * ([[IncrementalClusters]]: rep-grain contraction, CC over the
    * bridged reps only, a confined re-label delta). Two-lane pipeline
    * ([[Par.pipeline2]]): day k's fold depends on day k's frozen ledger
    * and fold k-1, not on append k+1, so the fold lane overlaps the next
    * append; appends and folds each stay in day order.
    */
  private def foldDays(spark: SparkSession, m: Modality, corpus: DataFrame,
                       indexDir: String, stateDir: String): Unit =
    Par.pipeline2(3)(day => m.append(spark, indexDir, crawlDay(corpus, day))) {
      (_, pairs) =>
        IncrementalClusters.append(spark, stateDir, pairs, "a_id", "b_id")
        ()
    }

  /** q186 (image) / q188 (audio) / q190 (video): INCREMENTAL duplicate
    * clusters — pair generation is O(delta) through the index ledgers,
    * and cluster assignment is too ([[foldDays]]), nothing rescanning
    * history. After all appends the persisted labelling must equal the
    * ONE-SHOT closure over the whole corpus — the modality's cluster
    * oracle verbatim: a stale rep (missed re-label), a lost bridge, or a
    * latest-wins slip in the delta resolution diverges rows or hashes.
    */
  def mediaIncrClusters(gate: String,
                        m: Modality): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      val base = PipelineQueries.freshDir(gate)
      val corpus = OpCache.cache(m.corpus(spark, dir))
      foldDays(spark, m, corpus, s"$base/index", s"$base/clusters")
      IncrementalClusters.clusters(spark, s"$base/clusters")
        .select(col("node").as("doc_id"), col("cluster_rep"),
          col("cluster_size"))
    }

  /** One modality's row of the dedup report: items in the corpus, items
    * in the near-dup graph (`labels`, one row per linked node with its
    * rep in `repCol`), the clusters they collapse to, and the redundancy.
    */
  private def reportRow(m: Modality, corpus: DataFrame, labels: DataFrame,
                        repCol: String): DataFrame = {
    val stats = labels.agg(
      count(lit(1)).as("n_linked"),
      count_distinct(col(repCol)).as("n_clusters"))
    corpus.agg(count(lit(1)).as("n_items")).crossJoin(stats)
      .select(lit(m.name).as("modality"), col("n_items"),
        col("n_linked"), col("n_clusters"),
        (col("n_linked") - col("n_clusters")).as("n_redundant"))
  }

  /** q184: the MULTIMODAL DEDUP REPORT — the dim-sized audit table a
    * production curation run publishes beside its keep lists (the
    * FineWeb-ablation shape at media grain): per modality, how many
    * items exist, how many sit in the near-dup graph, how many clusters
    * they collapse to, and how much is redundant. The oracle replays
    * ALL THREE closures end-to-end and all three rollups — so this gate
    * re-checks the entire image, audio and video dedup stacks through
    * an independent aggregate lens.
    */
  def q184MultimodalDedupReport(spark: SparkSession, dir: String): DataFrame =
    // the three modality pipelines are fully independent (separate
    // corpora, separate closures) and their CC loops are EAGER — overlap
    // them (§2.6) instead of serializing three iterative loops
    Par.run(Modalities.map { m => () =>
      val corpus = m.corpus(spark, dir)
      // componentLabels, not components: the report aggregates only the
      // node count and distinct reps, so the size rollup + join behind
      // components() is dead weight here (guide §2.4; same argument as
      // q191's labelling() accessor)
      val labels = DupClusters.componentLabels(
        OpCache.cache(m.pairs(spark, corpus)), "a_id", "b_id")
      reportRow(m, corpus, labels, "cluster_rep")
    }).reduce(_ unionByName _)

  def q184Oracle: String = {
    val rows = Modalities.map { m =>
      val comp = s"${m.prefix}comp"
      s"""SELECT '${m.name}' AS modality, n.n_items,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $comp) AS n_linked,
         |  (SELECT CAST(COUNT(DISTINCT rep) AS BIGINT) FROM $comp) AS n_clusters,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $comp)
         |    - (SELECT CAST(COUNT(DISTINCT rep) AS BIGINT) FROM $comp) AS n_redundant
         |FROM n""".stripMargin
    }
    s"""WITH RECURSIVE ${Modalities.map(componentCtes).mkString(", ")},
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM documents)
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** q191: the multimodal dedup report FROM INCREMENTAL STATE — q184's
    * table rebuilt without recomputing a single closure: every modality
    * corpus flows through [[foldDays]], and the report reads ONLY the
    * maintained labellings (plus the corpus counts). The oracle is
    * q184's one-shot replay of all three closures — so this gate proves
    * the continuously-maintained state answers the audit query a batch
    * pipeline would recompute from scratch.
    */
  def q191IncrementalReport(spark: SparkSession, dir: String): DataFrame = {
    val base = PipelineQueries.freshDir("q191")
    // three independent index+state pipelines (separate dirs, separate
    // corpora); days stay sequential INSIDE each branch (state folds),
    // the branches overlap (§2.6)
    Par.run(Modalities.map { m => () =>
      val corpus = OpCache.cache(m.corpus(spark, dir))
      foldDays(spark, m, corpus, s"$base/${m.name}_idx", s"$base/${m.name}")
      // labelling(), not clusters(): the report needs only the node count
      // and the distinct-rep count, so the size rollup + row-preserving
      // join (and the checkpoint job that feeds its two branches) are
      // dead weight here — one pass over the resolved state instead
      // (equality with the clusters()-based aggregate is 1:1 by the
      // labelling() contract, and q191's oracle re-proves it end-to-end)
      reportRow(m, corpus,
        IncrementalClusters.labelling(spark, s"$base/${m.name}"), "rep")
    }).reduce(_ unionByName _)
  }

  def q96Oracle: String =
    """WITH p AS (
      |  SELECT doc_id, COALESCE(n_chars, 0) % 6 + 2 AS nf FROM documents
      |), f AS (
      |  SELECT doc_id, nf, unnest(range(LEAST(nf, 3))) AS frame_no FROM p
      |), src AS (
      |  SELECT doc_id, CAST(frame_no AS INTEGER) AS frame_no,
      |    CAST(CASE WHEN nf <= 3 THEN frame_no ELSE frame_no * nf // 3 END AS INTEGER) AS src_frame
      |  FROM f
      |)
      |SELECT doc_id, frame_no, src_frame,
      |  CAST(54 + 48 * 12 AS INTEGER) AS byte_len,
      |  CAST(16 AS INTEGER) AS width,
      |  CAST(12 AS INTEGER) AS height,
      |  CAST(list_sum(list_transform(range(64), i ->
      |    ((((doc_id + src_frame) % 9973) * 2654435761 + ((12-1 - i//16)*48 + 3*(i%16)) * 1103515245 + 12345) // 65536) % 256
      |    + ((((doc_id + src_frame) % 9973) * 2654435761 + ((12-1 - i//16)*48 + 3*(i%16) + 1) * 1103515245 + 12345) // 65536) % 256
      |    + ((((doc_id + src_frame) % 9973) * 2654435761 + ((12-1 - i//16)*48 + 3*(i%16) + 2) * 1103515245 + 12345) // 65536) % 256
      |  )) % 9973 AS BIGINT) AS checksum,
      |  'image/bmp' AS format
      |FROM src""".stripMargin

  def q95Oracle: String =
    """WITH p AS (
      |  SELECT doc_id, COALESCE(n_chars, 0) % 300 + 50 AS n FROM documents
      |), s AS (
      |  SELECT doc_id, n, list_transform(range(n), i ->
      |    ((((doc_id % 9973) * 2654435761 + i * 1103515245 + 12345) // 65536) % 65536) - 32768) AS smp
      |  FROM p
      |)
      |SELECT doc_id, 'audio/wav' AS source,
      |  CAST(8000 AS INTEGER) AS sample_rate,
      |  CAST(n AS BIGINT) AS n_samples,
      |  CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
      |  CAST(list_sum(list_transform(smp, x -> x * x)) AS BIGINT) AS sum_sq,
      |  CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) AS peak,
      |  sqrt(CAST(list_sum(list_transform(smp, x -> x * x)) AS DOUBLE) / n) AS rms
      |FROM s""".stripMargin

  def q30Oracle: String =
    """WITH dims AS (
      |  SELECT doc_id,
      |    COALESCE(n_chars, 0) % 64 + 1 AS w,
      |    COALESCE(n_chars, 0) % 48 + 1 AS h
      |  FROM documents
      |), geo AS (
      |  SELECT doc_id, w, h, (3*w + 3) // 4 * 4 AS row_size FROM dims
      |)
      |SELECT doc_id,
      |  CAST(54 + row_size * h AS INTEGER) AS byte_len,
      |  CAST(w AS INTEGER) AS width,
      |  CAST(h AS INTEGER) AS height,
      |  CAST(w AS DOUBLE) / CAST(h AS INTEGER) AS aspect_ratio,
      |  CAST(list_sum(list_transform(range(LEAST(64, w*h)), i ->
      |    (((doc_id % 9973) * 2654435761 + ((h-1 - i//w)*row_size + 3*(i%w)) * 1103515245 + 12345) // 65536) % 256
      |    + (((doc_id % 9973) * 2654435761 + ((h-1 - i//w)*row_size + 3*(i%w) + 1) * 1103515245 + 12345) // 65536) % 256
      |    + (((doc_id % 9973) * 2654435761 + ((h-1 - i//w)*row_size + 3*(i%w) + 2) * 1103515245 + 12345) // 65536) % 256
      |  )) % 9973 AS BIGINT) AS checksum,
      |  'image/bmp' AS format
      |FROM geo""".stripMargin
}
