package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** A multimodal asset: opaque `binary` content + typed metadata — the
  * schema shape a 100 TB image/audio/video pipeline uses (content stays
  * an uninterpreted byte column, exactly like the reference's
  * `types.Record.Data`, kinesis.go:34; metadata is columnar and
  * prunable).
  */
case class MMAsset(doc_id: Long, modality: String, content: Array[Byte],
  width: Int, height: Int)

/** Decoded-feature row produced by the (stubbed) decoder. */
case class MMFeature(doc_id: Long, modality: String, feat_dim: Int,
  byte_len: Int, checksum: Long)

/** Multimodal-column operators (builder brief): binary content columns
  * with typed metadata, and a decode/feature-extract stage implemented
  * as a batched `mapPartitions` — the Scala analog of `mapInPandas`:
  * one partition = one worker, records micro-batched inside the
  * partition so a real decoder could amortize model/codec setup.
  *
  * The decode itself is a STUB (this container has no image/audio
  * codecs): [[Multimodal.decodeStub]] produces a deterministic fake
  * feature vector from the bytes. Everything around it — schema,
  * partitioning, batch shape, encoders — is real and tested.
  */
object Multimodal {

  /** STUB decoder — stands in for JPEG/PCM/H.264 decoding, which needs
    * codec libraries absent from this environment. Deterministic on
    * content bytes so tests and the driver's check are stable. The
    * checksum is a polynomial fold mod a prime — chosen (like t04's
    * pluggable md5) so a SQL oracle can recompute it byte-for-byte
    * (`list_reduce` over the bytes) and the whole mapPartitions decode
    * path is hash-checked end-to-end, not merely rows-only.
    */
  private val ChecksumMod = 1000000007L

  private def decodeStub(a: MMAsset): MMFeature = {
    var sum = 0L
    var i = 0
    while (i < a.content.length) {
      sum = (sum * 31 + (a.content(i) & 0xff)) % ChecksumMod
      i += 1
    }
    MMFeature(a.doc_id, a.modality, feat_dim = 8, byte_len = a.content.length,
      checksum = sum)
  }

  /** documents → synthetic multimodal assets (binary content + typed
    * metadata), deterministic.
    */
  private def assets(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("modality"),
      col("text").cast("binary").as("content"),
      (col("n_chars") % 640).cast("int").as("width"),
      (col("n_chars") % 480).cast("int").as("height"))

  /** Public df-in/df-out binary metadata extraction over any frame with
    * an id and a binary column: byte length + content digest (fully
    * Catalyst, codegen'd — a metadata query never decodes).
    */
  def binaryMeta(df: DataFrame, idCol: String = "doc_id",
      contentCol: String = "content"): DataFrame =
    df.select(col(idCol).as("doc_id"), col(contentCol).as("content"))
      .select(col("doc_id"),
        octet_length(col("content")).as("n_bytes"),
        md5(col("content")).as("content_md5"))

  /** Public df-in/df-out frame sampling: slice the binary column into
    * fixed-size frames and keep every `stride`-th, without decoding.
    * Output: (doc_id, frame_idx, frame_bytes).
    */
  def frameSample(df: DataFrame, idCol: String = "doc_id",
      contentCol: String = "content", frameSize: Int = 256,
      stride: Int = 4): DataFrame =
    df.select(col(idCol).as("doc_id"), col(contentCol).as("content"))
      .withColumn("n_frames",
        ceil(octet_length(col("content")) / frameSize.toDouble).cast("int"))
      .filter(col("n_frames") > 0)
      // explode a PLAIN sequence and apply the stride filter after the
      // generator — explode over a lambda-HOF result re-evaluates the
      // lambda per emitted row (the repo's measured ~30× pitfall)
      .withColumn("frame_idx", explode(expr("sequence(0, n_frames - 1)")))
      .filter(col("frame_idx") % stride === 0)
      .select(col("doc_id"), col("frame_idx"),
        octet_length(expr(
          s"substring(content, frame_idx * $frameSize + 1, $frameSize)")).as("frame_bytes"))

  /** Public df-in/df-out nearest-neighbor resize over a binary column
    * treated as a row-major `srcWidth`-byte-wide grid (the codec-free
    * stand-in for image resize: real pixel decode needs codecs absent
    * here, but the GRID MATH — source-index arithmetic, sampling
    * pattern, output shape — is exactly what a real resize kernel
    * does, and it is what Spark executes). Output: (doc_id, src_h,
    * pix) with `pix` the outW×outH sampled bytes, row-major. Pure
    * per-row expression arithmetic: zero shuffles, codegen'd,
    * partition-parallel at any scale.
    */
  def resizeNearest(df: DataFrame, srcWidth: Int, outW: Int, outH: Int,
      idCol: String = "doc_id", contentCol: String = "content"): DataFrame = {
    require(srcWidth > 0 && outW > 0 && outH > 0, "dims must be positive")
    graft.functions.GraftExtensions.register(df.sparkSession)
    df.select(col(idCol).as("doc_id"), col(contentCol).as("content"))
      .withColumn("src_h",
        expr(s"CAST(octet_length(content) DIV $srcWidth AS INT)"))
      .filter(col("src_h") > 0)
      // nearest-neighbor: out pixel p = (r, c) samples source byte at
      // row (r*src_h) div outH, column (c*srcWidth) div outW — via the
      // native resize_grid expression (graft.functions.ResizeGrid):
      // one codegen loop per asset, unsigned bytes, identical index
      // arithmetic to the r<11 transform-HOF form whose every sample
      // paid a lambda call + substring slice + hex→conv string
      // round-trip (PhashProbe@059cb1a measured the grid derivation at ~85%
      // of m06; m06 1.0-1.1 → 0.52-0.65 s, m05 0.33 → 0.22 s at
      // sf0.1, identical hashes).
      .withColumn("pix",
        expr(s"resize_grid(content, $srcWidth, $outW, $outH)"))
      .select(col("doc_id"), col("src_h"), col("pix"))
  }

  /** Perceptual average-hash (aHash) over the byte grid: resize to 8×8
    * via [[resizeNearest]], threshold each sample against the integer
    * mean, pack the 64 verdict bits as FOUR 16-BIT BANDS (pixel j sets
    * bit j%16 of band j DIV 16) plus a 16-hex-char display form. Bands
    * — not one 64-bit long — are the canonical representation: the
    * near-dup blocking consumes them directly, and 16-bit values stay
    * sign-free in every engine (DuckDB refuses `1 << 63`, and a signed
    * 64-bit pack would need the d05 oracle's reduced-width workaround).
    * Same codec caveat as [[resizeNearest]]: real pixel decode needs
    * codecs absent here; the thresholding/packing arithmetic is
    * exactly what an aHash kernel does and is what Spark executes.
    *
    * The bits are packed through ONE hash aggregate (explode the 64
    * samples, conditional bit sums per band) rather than nested
    * array-HOF projections — deliberately. The aggregate makes b0..b3
    * plain attributes behind an optimizer barrier; when they were raw
    * expression trees, the self-join downstream inferred IsNotNull
    * constraints on its keys and pushed them into the scan filter
    * with the WHOLE pipeline inlined — four copies, each re-deriving
    * the grid per band element (~10⁴ md5 evaluations per row,
    * measured minutes instead of seconds at sf0.1). Cost shape: 64
    * narrow rows per asset into a map-side-combinable aggregate.
    */
  def perceptualHash(df: DataFrame, srcWidth: Int, idCol: String = "doc_id",
      contentCol: String = "content"): DataFrame = {
    def hx(c: Column): Column = lpad(hex(c.cast("long")), 4, "0")
    def band(k: Int): Column =
      sum(expr(s"IF(i DIV 16 = $k AND pv >= __mean, shiftleft(1, i % 16), 0)"))
        .cast("int").as(s"b$k")
    resizeNearest(df, srcWidth, 8, 8, idCol, contentCol)
      .withColumn("__mean",
        expr("aggregate(pix, 0L, (a, x) -> a + x) DIV 64"))
      .select(col("doc_id"), col("__mean"), posexplode(col("pix")))
      .toDF("doc_id", "__mean", "i", "pv")
      .groupBy("doc_id")
      .agg(band(0), band(1), band(2), band(3))
      .withColumn("phash",
        concat(hx(col("b3")), hx(col("b2")), hx(col("b1")), hx(col("b0"))))
  }

  /** Perceptual near-dup pairs: assets whose aHashes differ by at most
    * `maxHamming` of 64 bits — the image-dedup shape (crops ≠, but
    * re-encodes/minor edits collide). Blocking is d05's pigeonhole:
    * ≤ 3 flipped bits touch at most 3 of the 4 bands, so one band
    * matches exactly and the band equi-join is LOSSLESS for
    * maxHamming ≤ 3 — a shuffled hash join on (band, value), never
    * all-pairs. Output: (id_a, id_b, hamming).
    */
  def phashNearDup(df: DataFrame, srcWidth: Int, maxHamming: Int = 3,
      idCol: String = "doc_id", contentCol: String = "content"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-band blocking is lossless only for maxHamming <= 3, got $maxHamming")
    val withBands = perceptualHash(df, srcWidth, idCol, contentCol)
      .select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"),
        posexplode(expr("array(b0, b1, b2, b3)")))
      .toDF("doc_id", "b0", "b1", "b2", "b3", "band", "key")
    // Pair dedup is FIRST-COLLISION, in-row (the d05 pattern — both
    // docs' four band keys are ALREADY in the joined row): a pair
    // generated at band t survives iff no earlier band also matched,
    // so each colliding pair exits the join's codegen stage exactly
    // once and there is NO distinct exchange at all. The hamming gate
    // still runs inside the same stage — on low-entropy corpora (flat
    // grids → one hot bucket per band) the band join emits ~n² rows
    // and both predicates must kill them before any shuffle. Same
    // result set: hamming is functionally dependent on the pair, and
    // every surviving pair appears in exactly one band's row.
    val bandKeys = Seq("b0", "b1", "b2", "b3")
    val firstCollision = (0 until 3).map { j =>
      col("a.band") <= j || col(s"a.${bandKeys(j)}") =!= col(s"b.${bandKeys(j)}")
    }.reduce(_ && _)
    withBands.as("a").join(withBands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(firstCollision)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("""CAST(bit_count(a.b0 ^ b.b0) + bit_count(a.b1 ^ b.b1)
                   + bit_count(a.b2 ^ b.b2) + bit_count(a.b3 ^ b.b3)
                AS INT)""").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Shannon byte entropy of a binary column — the standard
    * compressed/encrypted-blob detector in an asset-ingest pipeline
    * (text ≈ 4-5 bits/byte, JPEG/MP3 payloads ≈ 8, a corrupt
    * all-zeros blob ≈ 0): H = ln N − (Σ c·ln c)/N nats over the
    * byte-value histogram. No decode, no codec — pure byte statistics.
    *
    * Cross-engine exactness uses t07's integer-grid trick: each ln is
    * snapped to integer MICRO-NATS (round(ln·1e6)) before the weighted
    * sum, so both accumulations are exact long arithmetic in any
    * engine and the closing (÷, −, ÷) are three IEEE ops on identical
    * operands. Cost shape: the byte explode is linear in corpus bytes
    * and feeds a map-side-combinable (id, byte) count — shuffle volume
    * is ≤ 256 rows per asset, NOT the corpus bytes; the per-asset
    * rollup reuses the same hash family.
    *
    * Output: (doc_id, n_bytes, n_distinct, entropy_nats); empty blobs
    * are dropped (entropy of nothing is undefined).
    */
  def byteEntropy(df: DataFrame, idCol: String = "doc_id",
      contentCol: String = "content"): DataFrame = {
    // Native byte_histogram (graft.functions.ByteHistogram): one in-row
    // codegen pass per asset instead of the r<11 shape that EXPLODED a
    // row per byte (content-length× fan-out + two shuffled aggregates —
    // measured 1.0-1.2 s vs 0.53-0.58 s at sf0.1, same hashes; the
    // remainder is the binary scan itself). Folding the
    // 256-element histogram with HOFs is fine — the repo's HOF pitfall
    // is exploding OVER a lambda array, not folding a small one.
    graft.functions.GraftExtensions.register(df.sparkSession)
    df.select(col(idCol).as("doc_id"), col(contentCol).as("content"))
      .filter(octet_length(col("content")) > 0)
      .withColumn("__hist", expr("byte_histogram(content)"))
      .select(col("doc_id"),
        // == sum of histogram counts, by definition of the histogram
        octet_length(col("content")).cast("long").as("n_bytes"),
        expr("CAST(size(filter(__hist, c -> c > 0)) AS INT)").as("n_distinct"),
        // the same integer micro-nat grid as the exploded form: the
        // per-value counts c are identical, so the sum is bit-equal
        expr("""aggregate(__hist, 0L, (acc, c) ->
                 acc + IF(c > 0, c * CAST(round(ln(c) * 1e6) AS BIGINT), 0L))""")
          .as("__t"))
      .withColumn("entropy_nats",
        (expr("CAST(CAST(round(ln(n_bytes) * 1e6) AS BIGINT) AS DOUBLE)") -
          col("__t").cast("double") / col("n_bytes").cast("double")) / lit(1e6))
      .select(col("doc_id"), col("n_bytes"), col("n_distinct"),
        col("entropy_nats"))
  }

  /** Shot-boundary (scene-change) detection over a binary "video"
    * column: the payload is sliced into fixed-size frames (like
    * [[frameSample]]), each frame reduced to its mean byte value, and
    * a cut is flagged where consecutive frame means jump by more than
    * `thresholdMilli` (mean scaled ×1000). Mean/histogram frame
    * differencing IS the classic shot-detection kernel — the codec is
    * stubbed (same caveat as [[resizeNearest]]), the dataflow is real.
    *
    * All-integer arithmetic (byte sums, ×1000 DIV frameSize, abs
    * diff): hash-exact across engines with no float grid needed. Frame
    * signatures are computed by one in-row `aggregate` HOF per frame
    * (linear in payload bytes), so the only wide op is the per-asset
    * lag window — bounded by frames-per-asset, hash-partitioned on the
    * asset id, never a global sort. Trailing partial frames are
    * ignored (a mean over fewer bytes isn't comparable); assets with
    * fewer than 2 full frames drop out.
    *
    * Output: (doc_id, frame_idx, mean_diff_milli, is_cut) — one row
    * per frame transition.
    */
  def sceneChanges(df: DataFrame, frameSize: Int = 256,
      thresholdMilli: Long = 1000, idCol: String = "doc_id",
      contentCol: String = "content"): DataFrame = {
    require(frameSize >= 1, s"frameSize must be >= 1, got $frameSize")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    df.select(col(idCol).as("doc_id"), col(contentCol).as("content"))
      .withColumn("n_frames",
        expr(s"CAST(octet_length(content) DIV $frameSize AS INT)"))
      .filter(col("n_frames") >= 2)
      .withColumn("frame_idx", explode(expr("sequence(0, n_frames - 1)")))
      .withColumn("fmean_milli", expr(
        s"""aggregate(sequence(1, $frameSize), 0L, (acc, j) ->
              acc + CAST(conv(hex(substring(content,
                frame_idx * $frameSize + j, 1)), 16, 10) AS BIGINT))
            * 1000L DIV $frameSize"""))
      .withColumn("__prev", lag("fmean_milli", 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(col("doc_id"), col("frame_idx"),
        abs(col("fmean_milli") - col("__prev")).as("mean_diff_milli"),
        (abs(col("fmean_milli") - col("__prev")) > thresholdMilli).as("is_cut"))
  }

  /** Quiet-run (silence) detection over a binary "audio" column: runs
    * of consecutive bytes below `threshold` are the codec-free stand-in
    * for silence; the operator reports each asset's LONGEST quiet run
    * and the COUNT of runs of at least `minRun` bytes — the
    * trim-silence / dead-air screen of an audio ingest pipeline.
    *
    * The run-length scan is ONE in-row `aggregate` fold over the byte
    * sequence carrying (current run, max run, runs ≥ minRun) — a pure
    * per-row map: zero shuffles, zero windows, linear in payload
    * bytes, embarrassingly parallel at any corpus size. All-integer
    * state, so the gate is hash-exact with no float grid; the oracle
    * computes the same runs by SQL gaps-and-islands, so the hash-match
    * also cross-checks the fold against an independent algorithm.
    *
    * Output: (doc_id, n_bytes, max_quiet_run, n_quiet_runs).
    */
  def silenceRuns(df: DataFrame, threshold: Int = 32, minRun: Int = 16,
      idCol: String = "doc_id", contentCol: String = "content"): DataFrame = {
    require(threshold >= 1 && threshold <= 255,
      s"threshold must be in [1, 255], got $threshold")
    require(minRun >= 1, s"minRun must be >= 1, got $minRun")
    // Native quiet_runs (graft.functions.QuietRuns): one codegen loop
    // per asset instead of the r<11 per-byte aggregate HOF (a lambda
    // call + struct accumulator + 1-byte substring slice PER BYTE —
    // measured 1.4-1.7 s vs 0.20-0.24 s at sf0.1, same run arithmetic
    // and hashes).
    graft.functions.GraftExtensions.register(df.sparkSession)
    df.select(col(idCol).as("doc_id"), col(contentCol).as("content"))
      .withColumn("__st", expr(s"quiet_runs(content, $threshold, $minRun)"))
      .select(col("doc_id"),
        octet_length(col("content")).cast("long").as("n_bytes"),
        col("__st.maxr").as("max_quiet_run"),
        col("__st.nruns").as("n_quiet_runs"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Binary-column metadata extraction — fully Catalyst (codegen'd),
    // oracle-checked: byte length + content digest over the binary col.
    // Per-asset projections sort the RAW scan and project AFTER the
    // sort (r16, same note as TextOps.queries): a trailing global
    // orderBy makes RangePartitioning's bounds sampling execute the
    // projection once before the shuffle executes it again — md5/
    // byte-fold work ran twice per query. Row-wise ops, unique doc_id:
    // identical rows and order. TRADE-OFF (r16 ADVICE): sorting the
    // raw scan ships the binary payload through the range exchange
    // instead of the narrow computed projection (m01's exchange grew
    // 46.9→166.8 KiB in the committed plan captures) — the saved
    // second md5/byte-fold pass wins at the fixture asset sizes
    // (re-measured at sf1 in the r17 shuffle-byte audit, see
    // OPTIMIZATION_r17.md), but for LARGE binary payloads where
    // shuffle bytes dominate recompute cost, projection-first is the
    // right production shape — re-probe before lifting this to a
    // corpus whose assets are MBs, not KBs.
    "m01_binary_meta" -> ((s, dir) => {
      assets(s, dir).orderBy("doc_id")
        .select(col("doc_id"), col("modality"),
          octet_length(col("content")).as("n_bytes"),
          md5(col("content")).as("content_md5"),
          substring(md5(col("content")), 1, 8).as("md5_pfx"))
    }),

    // Batched decode / feature-extract via mapPartitions (mapInPandas
    // analog). Decoder is a deterministic stub; plumbing is real, and
    // hash-checked: the DuckDB oracle recomputes the stub's polynomial
    // checksum with list_reduce over the document's bytes.
    "m02_decode_features" -> ((s, dir) => {
      import s.implicits._
      val ds = assets(s, dir).as[MMAsset]
      ds.mapPartitions { it =>
        // Micro-batch inside the partition: a real decoder would load
        // its codec/model once per batch, not once per record.
        it.grouped(64).flatMap(batch => batch.iterator.map(decodeStub))
      }.toDF()
        .orderBy("doc_id")
    }),

    // Frame sampling for "video" assets: every 256-byte block stands in
    // for a frame; sample every 4th. Shows slicing binary payloads into
    // per-frame rows without decoding. Oracle-checked (the text corpus
    // is ASCII, so DuckDB's char offsets equal Spark's byte offsets).
    "m03_frame_sample" -> ((s, dir) =>
      frameSample(assets(s, dir).filter(col("modality") === "video"),
        frameSize = 256, stride = 4)
        .orderBy("doc_id", "frame_idx")),

    // Image resize shape for "image" assets: the payload as a 32-wide
    // byte grid, nearest-neighbor-sampled down to 8×8 — the codec-free
    // resize kernel (real index arithmetic, stubbed pixels). Long-form
    // scalar output for the gate: per-doc pixel sum + corner pixel.
    // Oracle-checked (ASCII corpus: ascii(char) == content byte).
    "m05_image_resize" -> ((s, dir) =>
      resizeNearest(
          assets(s, dir).filter(col("modality") === "image").orderBy("doc_id"),
          srcWidth = 32, outW = 8, outH = 8)
        .select(col("doc_id"), col("src_h"),
          expr("aggregate(pix, 0L, (acc, x) -> acc + x)").as("px_sum"),
          element_at(col("pix"), 1).as("px_first"),
          element_at(col("pix"), 64).as("px_last"))),

    // Audio resampling shape for "audio" assets: the binary payload is
    // treated as a stream of 2-byte PCM-ish samples, decimated 3:1
    // (keep every 3rd sample) with a summed amplitude proxy (first byte
    // of each kept sample) — all plain substring/HOF arithmetic over the
    // binary column, no codec. Oracle-checked (ASCII corpus: DuckDB char
    // offsets equal byte offsets).
    "m04_audio_resample" -> ((s, dir) => {
      assets(s, dir)
        .filter(col("modality") === "audio")
        .orderBy("doc_id") // below the decimation fold (see m01 note)
        .withColumn("n_samples", expr("CAST(octet_length(content) / 2 AS INT)"))
        .filter(col("n_samples") > 0)
        .withColumn("kept", expr("filter(sequence(0, n_samples - 1), i -> i % 3 = 0)"))
        .select(col("doc_id"), col("n_samples"), size(col("kept")).as("n_kept"),
          expr("""aggregate(
                    transform(kept, i ->
                      CAST(ascii(substring(CAST(content AS STRING), i * 2 + 1, 1)) AS BIGINT)),
                    0L, (acc, x) -> acc + x)""").as("amp_sum"))
    }),

    // Perceptual (aHash) near-dup over the image assets via
    // [[phashNearDup]]. The synthetic "pixels" are md5-derived bytes
    // (`repeat(md5(text), 4)` — the raw word-salad text is a FLAT
    // grid: every asset hashes to ~the same bands, which is not what
    // decoded images look like and degenerates the blocking to ~n²
    // candidate pairs). Exact byte copies of every 30th document are
    // injected under shifted ids IN THE QUERY (mirrored in the oracle)
    // so hamming-0 pairs exist at every SF. The oracle computes the
    // ALL-PAIRS hamming relation, so the gate also proves the 4-band
    // blocking loses nothing.
    "m06_phash_neardup" -> ((s, dir) => {
      val imgs = documents(s, dir).filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          repeat(md5(col("text")), 4).cast("binary").as("content"))
      val copies = imgs.filter(col("doc_id") % 30 === 0)
        .withColumn("doc_id", col("doc_id") + 999999)
      phashNearDup(imgs.unionByName(copies), srcWidth = 16, maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // Shannon byte entropy over the binary assets via [[byteEntropy]]
    // — hash-checked thanks to the integer micro-nat grid.
    "m07_byte_entropy" -> ((s, dir) =>
      byteEntropy(assets(s, dir).orderBy("doc_id"))),

    // Shot-boundary detection over the binary assets via
    // [[sceneChanges]] — all-integer frame signatures, hash-checked.
    // Threshold 1000 milli sits mid-distribution on the fixture
    // (measured median diff ~574, max ~2062), so both cut verdicts
    // occur.
    "m08_scene_changes" -> ((s, dir) =>
      sceneChanges(assets(s, dir), frameSize = 256, thresholdMilli = 1000)
        .orderBy("doc_id", "frame_idx")),

    // Silence detection via [[silenceRuns]]. The ASCII corpus has no
    // bytes below 32, so quiet spans (chr(1) runs) are injected into
    // every third document IN THE QUERY, mirrored in the oracle: one
    // variable-length run (doc_id % 40 — straddles the minRun=16
    // boundary) and one fixed 8-byte run (always below it), separated
    // by an 'x'. Untouched docs exercise the all-zero path.
    "m09_silence_runs" -> ((s, dir) => {
      val injected = documents(s, dir).orderBy("doc_id").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"),
            expr("repeat(char(1), CAST(doc_id % 40 AS INT))"),
            lit("x"), expr("repeat(char(1), 8)")))
          .otherwise(col("text")).cast("binary").as("content"))
      silenceRuns(injected, threshold = 32, minRun = 16) // sorted below (m01 note)
    })
  )

  def oracles: Map[String, String] = Map(
    "m01_binary_meta" ->
      """SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS modality,
         CAST(strlen(text) AS INTEGER) AS n_bytes,
         md5(text) AS content_md5,
         substring(md5(text), 1, 8) AS md5_pfx
         FROM documents ORDER BY doc_id""",

    // The stub checksum is acc ← (acc*31 + byte) mod p folded left to
    // right; list_reduce's implicit initial accumulator (the first
    // element) equals the Scala fold's state after its first step
    // ((0*31 + b0) mod p = b0), so the two folds agree from step one.
    // The corpus is ASCII, so ascii(char) == the content byte.
    "m02_decode_features" ->
      """SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS modality,
         CAST(8 AS INTEGER) AS feat_dim,
         CAST(strlen(text) AS INTEGER) AS byte_len,
         CAST(CASE WHEN strlen(text) = 0 THEN 0 ELSE
           list_reduce(
             list_transform(generate_series(1, strlen(text)),
               i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)),
             (acc, x) -> (acc * 31 + x) % 1000000007)
         END AS BIGINT) AS checksum
         FROM documents ORDER BY doc_id""",

    "m03_frame_sample" ->
      """WITH v AS (SELECT doc_id, text,
                      CAST(ceil(strlen(text)/256.0) AS INTEGER) AS n_frames
                    FROM documents WHERE doc_id % 3 = 2),
         f AS (SELECT doc_id,
                 CAST(unnest(list_filter(generate_series(0, n_frames-1),
                   i -> i % 4 = 0)) AS INTEGER) AS frame_idx,
                 text
               FROM v WHERE n_frames > 0)
         SELECT doc_id, frame_idx,
           CAST(strlen(substring(text, frame_idx*256+1, 256)) AS INTEGER) AS frame_bytes
         FROM f ORDER BY doc_id, frame_idx""",

    // Same nearest-neighbor index arithmetic with `//` for Spark's DIV;
    // out pixel p samples byte (((p//8)*src_h)//8)*32 + ((p%8)*32)//8.
    "m05_image_resize" ->
      """WITH img AS (SELECT doc_id, text,
                        CAST(strlen(text) // 32 AS INTEGER) AS src_h
                      FROM documents WHERE doc_id % 3 = 0),
         px AS (SELECT doc_id, src_h,
                  list_transform(generate_series(0, 63), p ->
                    CAST(ascii(substring(text,
                      (((p // 8) * src_h) // 8) * 32
                        + ((p % 8) * 32) // 8 + 1, 1)) AS BIGINT)) AS pix
                FROM img WHERE src_h > 0)
         SELECT doc_id, src_h,
           CAST(list_sum(pix) AS BIGINT) AS px_sum,
           pix[1] AS px_first, pix[64] AS px_last
         FROM px ORDER BY doc_id""",

    "m04_audio_resample" ->
      """WITH a AS (SELECT doc_id, text,
                      CAST(strlen(text) // 2 AS INTEGER) AS n_samples
                    FROM documents WHERE doc_id % 3 = 1),
         k AS (SELECT doc_id, n_samples,
                 list_filter(generate_series(0, n_samples - 1), i -> i % 3 = 0) AS kept,
                 text
               FROM a WHERE n_samples > 0)
         SELECT doc_id, n_samples, CAST(len(kept) AS INTEGER) AS n_kept,
           CAST(list_sum(list_transform(kept,
             i -> ascii(substring(text, i*2+1, 1)))) AS BIGINT) AS amp_sum
         FROM k ORDER BY doc_id""",

    // m05's pixel-index arithmetic (srcWidth 16 over the md5-derived
    // 128-byte grid) → integer-mean threshold → four 16-bit bands,
    // then the ALL-PAIRS hamming relation (no blocking): matching the
    // Spark result proves the band equi-join is lossless, not just
    // consistent.
    "m06_phash_neardup" ->
      """WITH imgs AS (
           SELECT doc_id, repeat(md5(text), 4) AS px FROM documents
           WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id + 999999 AS doc_id, repeat(md5(text), 4) AS px
           FROM documents WHERE doc_id % 30 = 0),
         img AS (SELECT doc_id, px,
                   CAST(strlen(px) // 16 AS INTEGER) AS src_h FROM imgs),
         g AS (SELECT doc_id,
                 list_transform(generate_series(0, 63), p ->
                   CAST(ascii(substring(px,
                     (((p // 8) * src_h) // 8) * 16
                       + ((p % 8) * 16) // 8 + 1, 1)) AS BIGINT)) AS pix
               FROM img WHERE src_h > 0),
         m AS (SELECT doc_id, pix, list_sum(pix) // 64 AS mean FROM g),
         h AS (SELECT doc_id,
                 CAST(list_sum(list_transform(generate_series(0, 15),
                   i -> CASE WHEN pix[i+1] >= mean
                        THEN (1 << i) ELSE 0 END)) AS INTEGER) AS b0,
                 CAST(list_sum(list_transform(generate_series(0, 15),
                   i -> CASE WHEN pix[16+i+1] >= mean
                        THEN (1 << i) ELSE 0 END)) AS INTEGER) AS b1,
                 CAST(list_sum(list_transform(generate_series(0, 15),
                   i -> CASE WHEN pix[32+i+1] >= mean
                        THEN (1 << i) ELSE 0 END)) AS INTEGER) AS b2,
                 CAST(list_sum(list_transform(generate_series(0, 15),
                   i -> CASE WHEN pix[48+i+1] >= mean
                        THEN (1 << i) ELSE 0 END)) AS INTEGER) AS b3
               FROM m)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
             AS INTEGER) AS hamming
         FROM h a JOIN h b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
             + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
         ORDER BY id_a, id_b""",

    // ASCII corpus: per-char == per-byte, so the char histogram is the
    // byte histogram. Same micro-nat grid as [[byteEntropy]]; the
    // grouping value (char vs byte int) never reaches the output, only
    // the histogram shape does.
    "m07_byte_entropy" ->
      """WITH p AS (
           SELECT doc_id, text,
             unnest(range(1, length(text) + 1)) AS i
           FROM documents WHERE length(text) > 0),
         e AS (SELECT doc_id,
                 substring(text, CAST(i AS INTEGER), 1) AS ch
               FROM p),
         c AS (SELECT doc_id, ch, COUNT(*) AS c FROM e GROUP BY 1, 2),
         a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bytes,
                 CAST(COUNT(*) AS INTEGER) AS n_distinct,
                 CAST(SUM(c * CAST(round(ln(c) * 1e6) AS BIGINT)) AS BIGINT) AS t
               FROM c GROUP BY 1)
         SELECT doc_id, n_bytes, n_distinct,
           (CAST(CAST(round(ln(n_bytes) * 1e6) AS BIGINT) AS DOUBLE)
             - CAST(t AS DOUBLE) / CAST(n_bytes AS DOUBLE)) / 1e6
           AS entropy_nats
         FROM a ORDER BY doc_id""",

    // ASCII corpus: ascii(char) == the content byte; all-integer frame
    // means, so no float grid is needed anywhere.
    "m08_scene_changes" ->
      """WITH a AS (
           SELECT doc_id, text,
             CAST(length(text) // 256 AS INTEGER) AS n_frames
           FROM documents WHERE length(text) // 256 >= 2),
         f AS (SELECT doc_id, unnest(range(0, n_frames)) AS fi, text
               FROM a),
         s AS (SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
                 CAST(list_sum(list_transform(range(1, 257), j ->
                   ascii(substring(text, CAST(fi * 256 + j AS INTEGER), 1))))
                 AS BIGINT) * 1000 // 256 AS fmean_milli
               FROM f),
         w AS (SELECT doc_id, frame_idx, fmean_milli,
                 LAG(fmean_milli) OVER (
                   PARTITION BY doc_id ORDER BY frame_idx) AS prev
               FROM s)
         SELECT doc_id, frame_idx,
           CAST(abs(fmean_milli - prev) AS BIGINT) AS mean_diff_milli,
           abs(fmean_milli - prev) > 1000 AS is_cut
         FROM w WHERE prev IS NOT NULL ORDER BY doc_id, frame_idx""",

    // Gaps-and-islands run detection — an INDEPENDENT algorithm from
    // the Spark side's in-row fold; the hash-match cross-checks both.
    // ASCII + chr(1) are 1-byte chars, so length == octet_length.
    "m09_silence_runs" ->
      """WITH inj AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
               THEN text || repeat(chr(1), CAST(doc_id % 40 AS INTEGER))
                    || 'x' || repeat(chr(1), 8)
               ELSE text END AS t
           FROM documents),
         p AS (SELECT doc_id, t, unnest(range(1, length(t) + 1)) AS i
               FROM inj),
         q AS (SELECT doc_id, CAST(i AS INTEGER) AS i
               FROM p
               WHERE ascii(substring(t, CAST(i AS INTEGER), 1)) < 32),
         r AS (SELECT doc_id,
                 i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
               FROM q),
         runs AS (SELECT doc_id, COUNT(*) AS run_len
                  FROM r GROUP BY doc_id, grp),
         agg AS (SELECT doc_id, MAX(run_len) AS max_q,
                   SUM(CASE WHEN run_len >= 16 THEN 1 ELSE 0 END) AS n_q
                 FROM runs GROUP BY doc_id)
         SELECT i.doc_id, CAST(length(i.t) AS BIGINT) AS n_bytes,
           CAST(COALESCE(a.max_q, 0) AS BIGINT) AS max_quiet_run,
           CAST(COALESCE(a.n_q, 0) AS BIGINT) AS n_quiet_runs
         FROM inj i LEFT JOIN agg a ON i.doc_id = a.doc_id
         ORDER BY i.doc_id"""
  )
}
