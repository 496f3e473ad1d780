package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal asset handling (north-star extension): image/audio/video
  * payloads as opaque BINARY columns with typed metadata, plus the
  * decode / feature-extract plumbing a 100 TB media pipeline needs.
  *
  * Fixed-layout formats decode FOR REAL, in-engine, with no codec library:
  * PCM16LE audio ([[pcmWindowEnergy]]), uncompressed 24-bpp BMP images
  * ([[encodeBmp]]/[[bmpStats]]), binary PPM (P6) images
  * ([[encodePpm]]/[[ppmStats]]), and RIFF/WAVE containers
  * ([[encodeWav]]/[[wavStats]]) are pure arithmetic over `hex()`, so the
  * whole decode is codegen'd per row and replays bit-identically in the
  * oracle. QOI ([[encodeQoi]]/[[qoiStats]]) extends that to a real
  * COMPRESSED format — run-length + index + delta coding needs no codec
  * library, only a sequential native expression — and PNG
  * ([[encodePng]]/[[pngStats]]) to a real ENTROPY-CODED one: its entropy
  * layer is DEFLATE, which the JDK's java.util.zip provides. Perceptual
  * image dedup rides the decode path ([[bmpDHash]]/[[dhashNearDup]]).
  * Lossless JPEG ([[encodeJpegLossless]]/[[jpegStats]]) brings GENUINE
  * HUFFMAN DECODING in-engine (T.81 process 14 — DHT parse, byte-stuffed
  * bitstream, spatial predictors), and BASELINE LOSSY (DCT) JPEG
  * ([[encodeJpegDct]]/[[jpegDctStats]]) — what real image lakes
  * overwhelmingly hold — decodes for real too, with an exact oracle via
  * the fixed-point integer transform pipeline (Huffman is bijective on
  * the quantized coefficients, so lossiness does not preclude the
  * replay). Only H.264 (whose CABAC + inter-prediction genuinely need an
  * external codec library) remains a STUB, replaced by a deterministic
  * digest-derived fake (clearly marked below).
  * Everything around that stub is real and tested: the asset schema,
  * binary columns, partition-sized batching, and the feature-extraction
  * interface. Swapping in a real decoder replaces ONE function body
  * without touching the pipeline shape.
  */
object Multimodal {

  /** Asset row schema: payload + typed metadata (the multimodal analog of
    * ColumnInfo metadata).
    */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("bytes", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("source", StringType),
      StructField("mime", StringType))), nullable = true)))

  /** Wrap a text corpus as binary assets — the test stand-in for real media
    * bytes (documents.text utf-8 encoded), keeping the pipeline shape
    * identical to a real asset table.
    */
  def documentsAsAssets(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("asset_id"),
      lit("image").as("kind"),
      col("text").cast("binary").as("bytes"),
      struct(col("source"), lit("application/octet-stream").as("mime")).as("meta"))

  /** Cheap, codegen'd per-asset facts computed WITHOUT decoding: byte size
    * and content digest. These run at scan speed and are the dedup /
    * integrity layer for media lakes.
    */
  def withContentFacts(assets: DataFrame): DataFrame =
    assets
      .withColumn("n_bytes", octet_length(col("bytes")).cast("long"))
      .withColumn("content_digest", md5(col("bytes")))

  // ------------------------------------------------------------------
  // STUB DECODE (external-codec formats only — H.264): deterministic
  // fake features derived from the content digest. A real deployment
  // replaces `fakeDecodedFeatures` with a codec call (e.g. JNI image
  // decode inside mapPartitions) — the surrounding schema, batching and
  // partitioning stay as-is. Fixed-layout formats don't need this seam:
  // see pcmWindowEnergy (PCM16) and bmpStats (BMP) below for real
  // in-engine decodes.
  // ------------------------------------------------------------------

  /** Digest-derived pseudo-features (STUB): "width"/"height" from hex
    * slices, unit-interval "sharpness" from another slice. Deterministic,
    * portable, obviously fake — but shaped exactly like decoded metadata.
    */
  def fakeDecodedFeatures(assets: DataFrame): DataFrame = {
    val d = md5(col("bytes"))
    assets
      .withColumn("width", (conv(substr(d, lit(1), lit(4)), 16, 10).cast("long") % 1920 + 1).cast("int"))
      .withColumn("height", (conv(substr(d, lit(5), lit(4)), 16, 10).cast("long") % 1080 + 1).cast("int"))
      .withColumn(
        "sharpness",
        conv(substr(d, lit(9), lit(8)), 16, 10).cast("double") / math.pow(16, 8))
  }

  /** Aspect-preserving fit of (w, h) into a (maxW, maxH) box, never
    * upscaling — the thumbnail/resize math every media pipeline runs after
    * decode. Pure codegen'd arithmetic; returns a (w, h) struct.
    */
  def aspectFit(w: Column, h: Column, maxW: Int, maxH: Int): Column = {
    val scale = least(
      lit(maxW.toDouble) / w.cast("double"),
      lit(maxH.toDouble) / h.cast("double"),
      lit(1.0))
    struct(
      floor(w.cast("double") * scale).cast("int").as("w"),
      floor(h.cast("double") * scale).cast("int").as("h"))
  }

  /** Video-frame sampling plumbing: one row per sampled frame every
    * `everySeconds` across the asset's duration, each carrying the frame
    * decode key (digest:offset), stub frame dims, and aspect-fit thumbnail
    * dims. Duration and per-frame dims are digest-derived STUBS (no codecs
    * here); the fan-out itself is the real 100 TB shape — frame rows are
    * generated engine-side with `sequence`+`explode` (no UDF, no driver
    * loop), so a 2-hour video expands to its frame set at scan speed and
    * the downstream per-frame decode parallelizes over ROWS, not assets.
    */
  def withFrameSamples(
      assets: DataFrame,
      everySeconds: Int = 10,
      thumbW: Int = 224,
      thumbH: Int = 224): DataFrame = {
    val d = md5(col("bytes"))
    val fd = col("frame_digest")
    assets
      // STUB duration: 1..120 s from a digest slice disjoint from the
      // width/height/sharpness slices
      .withColumn("duration_s",
        (conv(substr(d, lit(17), lit(4)), 16, 10).cast("long") % 120 + 1).cast("int"))
      .withColumn("frame_offset_s",
        explode(sequence(lit(0), col("duration_s") - 1, lit(everySeconds))))
      .withColumn("frame_digest",
        md5(concat_ws(":", d, col("frame_offset_s"))))
      .withColumn("width",
        (conv(substr(fd, lit(1), lit(4)), 16, 10).cast("long") % 1920 + 1).cast("int"))
      .withColumn("height",
        (conv(substr(fd, lit(5), lit(4)), 16, 10).cast("long") % 1080 + 1).cast("int"))
      .withColumn("thumb", aspectFit(col("width"), col("height"), thumbW, thumbH))
      .withColumn("thumb_w", col("thumb.w"))
      .withColumn("thumb_h", col("thumb.h"))
      .drop("thumb")
  }

  /** PCM16 windowed energy (E197): a REAL decode, not a stub — PCM16LE is
    * pure arithmetic, so the engine decodes it natively: the asset's bytes
    * parse as little-endian signed 16-bit samples, frame into fixed
    * windows, and each window reports its exact integer energy Σv² — the
    * VAD / silence-detection primitive of every audio curation pipeline.
    * Decoding goes through `hex()` (bit-identical in Spark and DuckDB), so
    * the WHOLE decode replays in the oracle; a trailing odd byte is
    * ignored (PCM frames are 2-byte aligned).
    *
    * Scale: samples explode engine-side (`sequence`+`explode`, no UDF) —
    * one row per sample, all parsing codegen'd per row — and the window
    * aggregation map-side-combines on (asset, window). A 100 TB audio
    * lake streams through at scan speed; nothing is driver-side.
    */
  def pcmWindowEnergy(assets: DataFrame, windowSamples: Int = 16): DataFrame = {
    require(windowSamples >= 1, "windowSamples must be positive")
    val u =
      conv(expr("substring(h, cast(4 * i + 1 as int), 2)"), 16, 10).cast("long") +
        lit(256L) * conv(expr("substring(h, cast(4 * i + 3 as int), 2)"), 16, 10)
          .cast("long")
    val v = when(u >= 32768L, u - 65536L).otherwise(u)
    assets
      .select(col("asset_id"), hex(col("bytes")).as("h"),
        expr("octet_length(bytes) div 2").cast("long").as("ns"))
      .filter(col("ns") > 0) // sequence(0, -1) would DESCEND, not be empty
      .select(col("asset_id"), col("h"),
        explode(sequence(lit(0L), col("ns") - 1)).as("i"))
      .select(col("asset_id"), expr(s"i div $windowSamples").as("window_idx"),
        v.as("v"))
      .groupBy("asset_id", "window_idx")
      .agg(count(lit(1)).as("n_samples"),
        sum(col("v") * col("v")).cast("long").as("energy"))
  }

  // ------------------------------------------------------------------
  // REAL IMAGE CODEC: uncompressed 24-bpp BMP. Like PCM16 (pcmWindowEnergy)
  // this is pure arithmetic — header fields are little-endian integers at
  // fixed offsets and the pixel array is raw BGR triplets with rows padded
  // to 4-byte boundaries — so the engine encodes AND decodes natively
  // through hex() (bit-identical in Spark and DuckDB; the whole codec
  // replays in the oracle). The digest-stub above now stands in ONLY for
  // external-codec formats (H.264), whose decoding genuinely
  // needs a codec library this environment doesn't have.
  // ------------------------------------------------------------------

  /** Little-endian hex of the low 4 (resp. 2) bytes of a non-negative
    * integral column — the BMP header field encoding.
    */
  private def le32(v: Column): Column = {
    val h = lpad(hex(v), 8, "0")
    concat(substring(h, 7, 2), substring(h, 5, 2), substring(h, 3, 2), substring(h, 1, 2))
  }
  private def le16(v: Column): Column = {
    val h = lpad(hex(v), 4, "0")
    concat(substring(h, 3, 2), substring(h, 1, 2))
  }

  /** Encode each asset's payload bytes as a valid bottom-up 24-bpp
    * uncompressed BMP of the given pixel width: a 54-byte
    * BITMAPFILEHEADER+BITMAPINFOHEADER, then the first `height·stride`
    * payload bytes as the pixel array, where
    * `stride = ⌈3·width/4⌉·4` (BMP's 4-byte row padding) and
    * `height = ⌊len/stride⌋` (assets shorter than one row are dropped —
    * no pixels to carry). The payload bytes at row-padding positions ride
    * along as the (arbitrary, reader-skipped) pad bytes.
    *
    * Header layout per the public BMP format: magic "BM"; u32 file size;
    * 4 reserved bytes; u32 pixel-array offset (54); u32 DIB header size
    * (40); i32 width; i32 height; u16 planes (1); u16 bpp (24); u32
    * compression (0 = BI_RGB); u32 image size; u32 x/y pixels-per-metre;
    * u32 palette counts (0). All little-endian.
    *
    * Scale: one codegen'd projection per asset — string/hex arithmetic
    * only, no UDF, no driver work.
    */
  def encodeBmp(assets: DataFrame, width: Int = 6): DataFrame = {
    require(width >= 1, "width must be positive")
    val stride = ((3 * width + 3) / 4) * 4
    val height = expr(s"octet_length(bytes) div $stride").cast("long")
    val pixelHex = expr(s"substring(hex(bytes), 1, cast(2 * (octet_length(bytes) div $stride) * $stride as int))")
    val hx = concat(
      lit("424D"),                                 // "BM"
      le32(lit(54L) + height * stride),            // file size
      lit("00000000"),                             // reserved
      le32(lit(54L)),                              // pixel-array offset
      le32(lit(40L)),                              // DIB header size
      le32(lit(width.toLong)),                     // width
      le32(height),                                // height (bottom-up)
      le16(lit(1L)),                               // planes
      le16(lit(24L)),                              // bits per pixel
      le32(lit(0L)),                               // compression = BI_RGB
      le32(height * stride),                       // image size
      le32(lit(2835L)), le32(lit(2835L)),          // 72 dpi in px/metre
      le32(lit(0L)), le32(lit(0L)),                // palette sizes
      pixelHex)
    assets
      .filter(height >= 1L)
      .withColumn("bytes", unhex(hx))
  }

  /** Decode uncompressed 24-bpp BMP assets natively (E201): parse the
    * header via hex arithmetic (magic, width, height, bpp, compression,
    * pixel-array offset), then walk the pixel array — row stride padded to
    * 4 bytes, pad bytes skipped, BGR byte order, top-down (negative
    * height) accepted — and report exact per-channel sums plus the
    * fixed-point mean luma ⌊Σ(299R+587G+114B) / n⌋ (ITU-R 601 in
    * milli-units). Assets that are not decodable 24-bpp BI_RGB BMPs (bad
    * magic, other bpp, compressed, or a pixel array that overruns the
    * actual bytes) report is_valid = false with null stats — a corrupt
    * asset is a visible finding, not a dropped row.
    *
    * Scale: pixels explode engine-side in TWO levels (rows, then columns)
    * so per-row generated arrays are max(width, height) long — a
    * 100-megapixel scan never materializes one 10⁸-element array — and
    * every byte access is codegen'd hex arithmetic; the stats aggregation
    * map-side-combines per asset. The size-consistency validity check
    * (`n ≥ offset + height·stride`) also bounds the explosion by the
    * asset's real byte length, so a forged header cannot blow up the plan.
    *
    * Composition note: decode straight off a storage scan (the normal
    * case). If the input `bytes` is itself a wide synthesized expression
    * (e.g. [[encodeBmp]] in the same plan), put a materialization boundary
    * between the halves (`.repartition(...).localCheckpoint()` or a
    * write/read) — otherwise predicate pushdown + scan-collapse inline the
    * producer expression into every header-byte access (see q241's
    * comment).
    */
  /** Header parse shared by the BMP surfaces: field columns + `is_valid`.
    * Each header byte reads as hex of a ONE-BYTE binary slice — never one
    * shared "hex of the whole payload" string. A shared giant alias gets
    * substituted into every consumer when projections collapse, which (a)
    * re-hexes the full payload once per field and (b) multiplies the
    * expression tree past Janino's method limit (observed: 16k-line
    * codegen → interpreted fallback). Flat per-field slices keep every
    * access O(1) in payload size and the whole stage codegen'd.
    */
  private def bmpHeader(assets: DataFrame): DataFrame = {
    def u8(o: Int) =
      conv(hex(substring(col("bytes"), o + 1, 1)), 16, 10).cast("long")
    def u16c(o: Int) = u8(o) + lit(256L) * u8(o + 1)
    def u32c(o: Int) = u16c(o) + lit(65536L) * u16c(o + 2)
    assets
      .select(col("asset_id"), col("bytes"),
        octet_length(col("bytes")).cast("long").as("n"),
        (hex(substring(col("bytes"), 1, 2)) === "424D").as("magic_ok"),
        u32c(18).as("w"), u32c(22).as("hraw"), u16c(28).as("bpp"),
        u32c(30).as("comp"), u32c(10).as("poff"))
      // i32 height < 0 (two's complement) = top-down row order; row order
      // is irrelevant to per-image aggregates, so only |height| matters
      .withColumn("hgt",
        when(col("hraw") >= 2147483648L, lit(4294967296L) - col("hraw"))
          .otherwise(col("hraw")))
      .withColumn("stride", expr("((w * 3 + 3) div 4) * 4"))
      .withColumn("is_valid",
        col("n") >= 54L && col("magic_ok") &&
          col("bpp") === 24L && col("comp") === 0L &&
          col("w") >= 1L && col("hgt") >= 1L &&
          col("n") >= col("poff") + col("hgt") * col("stride"))
  }

  /** The valid assets' pixel walk: one (asset_id, ph) row per pixel, `ph`
    * the pixel's 6-char BGR hex (one 3-byte slice, hexed once). Two-level
    * explode keeps generated arrays max(w, h) long.
    */
  private def bmpPixels(hdr: DataFrame): DataFrame =
    hdr.filter(col("is_valid"))
      .select(col("asset_id"), col("bytes"), col("w"), col("hgt"),
        col("stride"), col("poff"))
      .withColumn("y", explode(sequence(lit(0L), col("hgt") - 1)))
      .withColumn("x", explode(sequence(lit(0L), col("w") - 1)))
      .select(col("asset_id"),
        expr("hex(substring(bytes, cast(poff + y*stride + x*3 + 1 as int), 3))")
          .as("ph"))

  /** Shared pixel-walk channel aggregation over a parsed header frame with
    * columns (asset_id, is_valid, w, hgt, bytes, stride, poff): ONE scan of
    * the binary payload — invalid assets ride the same pixel walk as a
    * single null-pixel row (explode_outer of a nulled sequence), and the
    * header fields travel as grouping keys. The two-branch alternative
    * (header report LEFT JOIN pixel aggregate) re-reads the whole asset
    * table per branch, a second full binary scan at 100 TB.
    * `firstByteRed` selects the triplet byte order: RGB (PPM) vs BGR (BMP).
    */
  private def pixelChannelStats(hdr: DataFrame, firstByteRed: Boolean): DataFrame = {
    val (rOff, bOff) = if (firstByteRed) (1, 5) else (5, 1)
    hdr
      .select(col("asset_id"), col("is_valid"),
        when(col("is_valid"), col("w")).as("width"),
        when(col("is_valid"), col("hgt")).as("height"),
        col("bytes"), col("stride"), col("poff"))
      .withColumn("y",
        explode_outer(when(col("is_valid"),
          sequence(lit(0L), col("height") - 1))))
      .withColumn("x",
        explode_outer(when(col("y").isNotNull,
          sequence(lit(0L), col("width") - 1))))
      .select(col("asset_id"), col("is_valid"), col("width"), col("height"),
        when(col("x").isNotNull,
          expr("hex(substring(bytes, cast(poff + y*stride + x*3 + 1 as int), 3))"))
          .as("ph"))
      .select(col("asset_id"), col("is_valid"), col("width"), col("height"),
        conv(substring(col("ph"), rOff, 2), 16, 10).cast("long").as("rd"),
        conv(substring(col("ph"), 3, 2), 16, 10).cast("long").as("gr"),
        conv(substring(col("ph"), bOff, 2), 16, 10).cast("long").as("bl"))
      .groupBy("asset_id", "is_valid", "width", "height")
      .agg(
        when(col("is_valid"), count(col("rd"))).as("n_pixels"),
        sum(col("rd")).cast("long").as("sum_r"),
        sum(col("gr")).cast("long").as("sum_g"),
        sum(col("bl")).cast("long").as("sum_b"),
        sum(lit(299L) * col("rd") + lit(587L) * col("gr") + lit(114L) * col("bl"))
          .cast("long").as("__lum"))
      .select(col("asset_id"), col("is_valid"), col("width"), col("height"),
        col("n_pixels"), col("sum_r"), col("sum_g"), col("sum_b"),
        expr("__lum div n_pixels").as("mean_luma_milli"))
  }

  def bmpStats(assets: DataFrame): DataFrame =
    pixelChannelStats(bmpHeader(assets), firstByteRed = false)

  /** PCM16 windowed zero-crossing rate + peak (E202): the other two
    * classic VAD/voicing features next to [[pcmWindowEnergy]]'s Σv² —
    * per fixed window, the exact count of sign changes between CONSECUTIVE
    * samples inside the window (pairs straddling a window boundary belong
    * to neither) and the exact peak |v|. High energy + low crossing rate
    * reads as voiced speech; high crossing rate as fricatives/noise — the
    * standard cheap speech/music/noise triage before any model runs.
    *
    * Decode discipline is q238's: samples explode engine-side, every byte
    * access is codegen'd hex arithmetic, the aggregation map-side-combines
    * on (asset, window). Each row decodes its own sample AND its successor
    * (one extra 2-byte read) so the crossing pair needs NO window function
    * — no shuffle-and-sort of the sample stream, just the one groupBy.
    */
  def pcmZeroCross(assets: DataFrame, windowSamples: Int = 16): DataFrame = {
    require(windowSamples >= 1, "windowSamples must be positive")
    def sampleAt(iExpr: String) = {
      val u =
        conv(expr(s"substring(h, cast(4 * ($iExpr) + 1 as int), 2)"), 16, 10).cast("long") +
          lit(256L) * conv(expr(s"substring(h, cast(4 * ($iExpr) + 3 as int), 2)"), 16, 10)
            .cast("long")
      when(u >= 32768L, u - 65536L).otherwise(u)
    }
    val v = sampleAt("i")
    val vn = sampleAt("i + 1")
    // the (i, i+1) pair counts iff i+1 exists and shares i's window
    val pairInWindow =
      col("i") + 1 < col("ns") &&
        expr(s"(i + 1) div $windowSamples") === expr(s"i div $windowSamples")
    val crossed = (v < 0L) =!= (vn < 0L)
    assets
      .select(col("asset_id"), hex(col("bytes")).as("h"),
        expr("octet_length(bytes) div 2").cast("long").as("ns"))
      .filter(col("ns") > 0) // sequence(0, -1) would DESCEND, not be empty
      .select(col("asset_id"), col("h"), col("ns"),
        explode(sequence(lit(0L), col("ns") - 1)).as("i"))
      .select(col("asset_id"), expr(s"i div $windowSamples").as("window_idx"),
        abs(v).as("a"),
        when(pairInWindow && crossed, 1L).otherwise(0L).as("zc"))
      .groupBy("asset_id", "window_idx")
      .agg(count(lit(1)).as("n_samples"),
        sum(col("zc")).cast("long").as("zero_crossings"),
        max(col("a")).cast("long").as("peak"))
  }

  /** Corpus-level luma exposure histogram over decoded BMP assets (E203):
    * 16 equal bins over the mean-free per-PIXEL luma (299R+587G+114B, 0..
    * 255000 milli-units; bin = luma div 16000) with every bin present —
    * an all-dark or blown-out asset population shows up as mass piled in
    * the edge bins, the standard exposure triage before any vision model
    * sees the pixels. Invalid/undecodable assets contribute nothing here;
    * [[bmpStats]] is where they surface.
    *
    * Scale: rides the same two-level pixel explode as [[bmpStats]] (per
    *-row arrays stay max(w, h)), aggregates to ≤16 rows map-side; the
    * literal bin frame keeps empty bins visible (the shardBalance
    * discipline).
    */
  def bmpLumaHistogram(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    val binned = bmpPixels(bmpHeader(assets))
      .select((lit(299L) * conv(substring(col("ph"), 5, 2), 16, 10).cast("long") +
        lit(587L) * conv(substring(col("ph"), 3, 2), 16, 10).cast("long") +
        lit(114L) * conv(substring(col("ph"), 1, 2), 16, 10).cast("long"))
        .as("luma_milli"))
      .groupBy(expr("luma_milli div 16000").as("bin"))
      .agg(count(lit(1)).as("n_pixels"))
    (0L until 16L).toDF("bin")
      .join(binned, Seq("bin"), "left")
      .select(col("bin"), (col("bin") * 16000L).as("lo_milli"),
        coalesce(col("n_pixels"), lit(0L)).as("n_pixels"))
  }

  // ------------------------------------------------------------------
  // REAL IMAGE CODEC #2: binary PPM (P6). Unlike BMP's fixed-offset
  // little-endian header, PPM's header is ASCII text — "P6", whitespace,
  // decimal width, whitespace, decimal height, whitespace, maxval, ONE
  // whitespace, then raw UNPADDED RGB triplets (per the public Netpbm
  // format, including #-comments in the pre-token whitespace runs). The
  // header parses in one native pass per asset (functions/
  // MediaExpressions.PpmHeaderParse); the q257 oracle replays the
  // CANONICAL single-space header parse in DuckDB hex space — on
  // canonical headers (all the encoder ever writes) the two parses are
  // value-identical, and the wider Netpbm acceptance is spec-pinned
  // engine-side. Proves the pixel walk is format-generic: padded/BGR
  // (BMP) vs unpadded/RGB (PPM) differ only in stride and byte order.
  // ------------------------------------------------------------------

  /** Encode each asset's payload bytes as a valid binary PPM (P6) of the
    * given pixel width: ASCII header "P6\n<w> <h>\n255\n", then the first
    * `3·width·height` payload bytes as unpadded RGB triplets, where
    * `height = ⌊len/(3·width)⌋` (assets shorter than one row are dropped —
    * no pixels to carry). The dynamic height's decimal ASCII bytes come
    * from hex() of the stringified number — string hex IS the ASCII
    * encoding. One codegen'd projection, no UDF.
    */
  def encodePpm(assets: DataFrame, width: Int = 6): DataFrame = {
    require(width >= 1, "width must be positive")
    val rowBytes = 3 * width
    val h = expr(s"octet_length(bytes) div $rowBytes").cast("long")
    val hdrHex = hex(concat(lit(s"P6\n$width "), h.cast("string"), lit("\n255\n")))
    val pixHex = expr(
      s"substring(hex(bytes), 1, cast(2 * $rowBytes * (octet_length(bytes) div $rowBytes) as int))")
    assets.filter(h >= 1L).withColumn("bytes", unhex(concat(hdrHex, pixHex)))
  }

  /** PPM (P6) header parse — ONE native single-pass expression per asset
    * ([[graft.functions.MediaWalks.ppmHeader]]): "P6", three decimal
    * tokens each preceded by a whitespace run — where `#`-to-end-of-line
    * comments are allowed, per the public Netpbm format — then the single
    * whitespace byte that delimits the raster. Emits the (asset_id,
    * is_valid, w, hgt, bytes, stride, poff) frame [[pixelChannelStats]]
    * expects, stride = 3·w (PPM rows are unpadded). Only maxval 255
    * (8-bit channels) decodes; anything else — wrong magic, 16-bit
    * maxval, dims beyond the actual byte length — reports is_valid =
    * false (a corrupt asset is a visible finding), and the
    * size-consistency check bounds the pixel explosion by the asset's
    * real byte length, so a forged header cannot blow up the plan.
    *
    * The former hex-space regex parse accepted only single-whitespace
    * comment-free headers (a documented Netpbm coverage gap, now closed)
    * and belonged to the projection-collapse duplication hazard class the
    * Y4M parse hit; the native pass reads at most 512 header bytes per
    * asset and cannot be duplicated by collapse (codegen CSE shares the
    * one call across the struct-field extracts).
    */
  private def ppmHeader(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"), col("bytes"),
        octet_length(col("bytes")).cast("long").as("n"),
        graft.functions.MediaNativeFunctions.ppmHeaderParse(col("bytes"))
          .as("__h"))
      .select(col("asset_id"), col("bytes"), col("n"),
        col("__h.w").as("w"), col("__h.hgt").as("hgt"),
        col("__h.maxv").as("maxv"), col("__h.poff").as("poff"))
      .withColumn("stride", col("w") * 3L)
      .withColumn("is_valid",
        col("w").isNotNull && col("hgt").isNotNull &&
          col("maxv") === 255L && col("w") >= 1L && col("hgt") >= 1L &&
          col("n") >= col("poff") + col("hgt") * col("stride"))
  }

  /** Decode binary PPM (P6) assets natively (E216): native Netpbm header
    * parse, then the same two-level pixel explode as [[bmpStats]] —
    * exact per-channel sums plus the fixed-point mean luma
    * ⌊Σ(299R+587G+114B)/n⌋. Scale notes are bmpStats': per-row generated
    * arrays stay max(w, h); every byte access is codegen'd hex arithmetic;
    * the aggregation map-side-combines per asset; invalid assets surface
    * as is_valid = false rows, never dropped.
    */
  def ppmStats(assets: DataFrame): DataFrame =
    pixelChannelStats(ppmHeader(assets), firstByteRed = true)

  // ------------------------------------------------------------------
  // REAL COMPRESSED IMAGE FORMAT: QOI (qoiformat.org, public spec).
  // Run-length + recency-index + delta compression with NO entropy
  // coding — so unlike JPEG it decodes with plain byte arithmetic,
  // and the stub above narrows to external-codec formats only. The
  // stream is SEQUENTIAL (decoder state carries across chunks), which
  // is the per-row-loop shape that belongs in a native Catalyst
  // Expression, not a pixel explode: see functions/QoiExpressions.
  // ------------------------------------------------------------------

  /** Encode each asset's payload bytes as a spec-conformant channels=3
    * QOI image of the given pixel width (height = ⌊len/(3·width)⌋; assets
    * shorter than one row are dropped). Runs as one native expression per
    * asset — a single pass, O(1) encoder state, parallel over rows.
    */
  def encodeQoi(assets: DataFrame, width: Int = 6): DataFrame = {
    require(width >= 1, "width must be positive")
    // the drop condition (shorter than one pixel row) is checked on the
    // CHEAP input length, not by filtering the encoder's null output —
    // an isNotNull post-filter gets pushed below the projection and
    // re-evaluates the whole encode once more per row
    assets
      .filter(octet_length(col("bytes")) >= 3 * width)
      .withColumn("bytes",
        graft.functions.QoiNativeFunctions.qoiEncode(col("bytes"), width))
  }

  /** Decode QOI assets natively (E219): full sequential decode — header,
    * all six op types, the 64-slot recency index, end marker — reporting
    * the same exact channel sums + fixed-point mean luma as [[bmpStats]]/
    * [[ppmStats]], PLUS the op histogram (runs/index-hits/diffs/lumas/
    * rgb/rgba chunk counts: the compression diagnostics only a real
    * decoder can see). Corrupt or forged streams report is_valid = false
    * with null stats; the decode loop is bounded by the bytes actually
    * present, never the header's claimed dimensions, so a forged header
    * cannot blow up the plan (see QoiCodec.decode).
    *
    * Scale: one native-expression pass per asset, no explode at all —
    * the decoder aggregates in O(1) memory while it walks, so nothing
    * per-pixel ever materializes. The projection around it stays
    * codegen'd; only this scalar evaluates interpreted (one call per
    * ROW — the loop inside is plain JVM code; see NOTES on interpreted
    * HOF-vs-native costs).
    */
  def qoiStats(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.QoiNativeFunctions.qoiDecode(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.width").as("width"), col("q.height").as("height"),
        col("q.n_pixels").as("n_pixels"), col("q.sum_r").as("sum_r"),
        col("q.sum_g").as("sum_g"), col("q.sum_b").as("sum_b"),
        col("q.mean_luma_milli").as("mean_luma_milli"),
        col("q.ops_run").as("ops_run"), col("q.ops_index").as("ops_index"),
        col("q.ops_diff").as("ops_diff"), col("q.ops_luma").as("ops_luma"),
        col("q.ops_rgb").as("ops_rgb"), col("q.ops_rgba").as("ops_rgba"))
  }

  /** Per-source QOI compression economics (E219's corpus view): exact
    * compressed-vs-raw byte totals and the op-mix per source — which
    * corpora run-length well, which are delta-friendly, which fall back
    * to literal RGB. ONE encode and ONE decode per asset in a single
    * projection; the compressed size is DERIVED from the op histogram
    * (header 14 + marker 8 + RUN/INDEX/DIFF ×1 + LUMA ×2 + RGB ×4 +
    * RGBA ×5 bytes — each chunk's size is fixed by its op, so the mix IS
    * the size, exactly). Measuring `octet_length` of the encoded binary
    * instead would force a second evaluation of the encoder once
    * projections collapse; QoiCodecSpec proves the derivation equals the
    * real stream length on real data.
    *
    * `raw_bytes` counts the bytes the encoder actually CONSUMED — the
    * 3·width·⌊len/(3·width)⌋ whole-row prefix, not the full payload: the
    * encoder drops the sub-row tail, and dividing compressed-prefix
    * bytes by uncompressed-FULL bytes would overstate compression on
    * every asset whose length is not row-aligned.
    */
  def qoiCompressionBySource(assets: DataFrame, width: Int = 6): DataFrame = {
    import graft.functions.QoiNativeFunctions.{qoiDecode, qoiEncode}
    val rowBytes = 3 * width
    val enc = assets
      .filter(octet_length(col("bytes")) >= 3 * width)
      .select(col("meta.source").as("source"),
        expr(s"$rowBytes * (octet_length(bytes) div $rowBytes)").cast("long")
          .as("raw_bytes"),
        qoiDecode(qoiEncode(col("bytes"), width)).as("q"))
    enc.groupBy("source")
      .agg(
        count(lit(1L)).as("n_assets"),
        sum(col("raw_bytes")).as("raw_bytes"),
        sum(col("q.n_pixels")).as("n_pixels"),
        sum(col("q.ops_run")).as("ops_run"),
        sum(col("q.ops_index")).as("ops_index"),
        sum(col("q.ops_diff")).as("ops_diff"),
        sum(col("q.ops_luma")).as("ops_luma"),
        sum(col("q.ops_rgb")).as("ops_rgb"),
        sum(col("q.ops_rgba")).as("ops_rgba"))
      .withColumn("qoi_bytes",
        lit(22L) * col("n_assets") + col("ops_run") + col("ops_index") +
          col("ops_diff") + lit(2L) * col("ops_luma") +
          lit(4L) * col("ops_rgb") + lit(5L) * col("ops_rgba"))
      // fixed-point ratio in micro-units: exact across engines
      .withColumn("compression_micro",
        expr("(qoi_bytes * 1000000) div raw_bytes"))
  }

  // ------------------------------------------------------------------
  // REAL ENTROPY-CODED IMAGE FORMAT: PNG. The entropy layer is DEFLATE,
  // which the JDK ships (java.util.zip — stdlib, not a codec library), so
  // the "needs a codec library" stub narrows again: chunk framing, CRCs,
  // IDAT inflate, and the None/Sub/Up/Average/Paeth row unfilters all
  // decode for real in one native expression (functions/PngExpressions).
  // ------------------------------------------------------------------

  /** Encode each asset's payload bytes as a spec-conformant 8-bit RGB PNG
    * of the given pixel width (height = ⌊len/(3·width)⌋; assets shorter
    * than one row are dropped). Row filter types cycle None/Sub/Up/
    * Average/Paeth so the decode of any ≥5-row fixture exercises every
    * unfilter path. One native expression per asset; the drop condition
    * is checked on the cheap input length (the [[encodeQoi]] discipline).
    */
  def encodePng(assets: DataFrame, width: Int = 6, colorType: Int = 2,
      interlaced: Boolean = false, depth: Int = 8): DataFrame = {
    require(width >= 1, "width must be positive")
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case _ => 2
    }
    // sub-byte wires (E290) consume one payload byte per pixel
    val bpp = math.max(1, channels * (depth / 8))
    assets
      .filter(octet_length(col("bytes")) >= bpp * width)
      .withColumn("bytes",
        graft.functions.PngNativeFunctions.pngEncode(col("bytes"),
          width, colorType, interlaced, depth))
  }

  /** Decode PNG assets natively (E226): CRC-verified chunk walk, IDAT
    * inflate via the JDK's Inflater, per-row unfilter, and the same exact
    * channel sums + fixed-point mean luma as [[bmpStats]]/[[qoiStats]],
    * plus the container diagnostics only a real decoder can see
    * (color type, IDAT chunk count and compressed byte total). Gray (0),
    * truecolor (2/6), palette (3, PLTE-resolved with out-of-bounds
    * indices rejected), gray+alpha (4), 16-bit gray/truecolor, and the
    * packed sub-byte depths 1/2/4 (E290) decode on the plain and
    * Adam7-interlaced wires; corrupt, forged, or truncated streams
    * report is_valid = false with null stats; the inflate is
    * bounded by DEFLATE's maximum expansion of the bytes actually
    * present, so a forged IHDR cannot blow up memory (see PngCodec).
    * The row/col-weighted channel sums pin PIXEL PLACEMENT — the
    * deinterlacing proof (see `sumRowV` in PngCodec.Decoded).
    *
    * Scale: one native-expression pass per asset, O(stride) state, no
    * explode — the [[qoiStats]] shape exactly.
    */
  def pngStats(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.PngNativeFunctions.pngDecode(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.width").as("width"), col("q.height").as("height"),
        col("q.n_pixels").as("n_pixels"), col("q.sum_r").as("sum_r"),
        col("q.sum_g").as("sum_g"), col("q.sum_b").as("sum_b"),
        col("q.mean_luma_milli").as("mean_luma_milli"),
        col("q.color_type").as("color_type"),
        col("q.n_idat_chunks").as("n_idat_chunks"),
        col("q.idat_bytes").as("idat_bytes"),
        col("q.sum_rowv").as("sum_rowv"),
        col("q.sum_colv").as("sum_colv"),
        col("q.interlaced").as("interlaced"))
  }

  // ------------------------------------------------------------------
  // REAL ENTROPY-CODED IMAGE FORMAT #2: LOSSLESS JPEG (ITU-T T.81
  // process 14, SOF3). Genuine Huffman entropy decoding — marker walk,
  // DHT table parse, byte-stuffed bitstream, difference categories, all
  // seven spatial predictors — and, being lossless, encode∘decode is
  // pixel-identity, so the q260/q268 oracle discipline applies
  // directly (lossy DCT JPEG needs the coefficient-replay variant
  // instead — see encodeJpegDct below). The stub now covers only H.264.
  // ------------------------------------------------------------------

  /** Encode each asset's payload bytes as a single-component (grayscale)
    * SOF3 lossless JPEG of the given sample width (height = ⌊len/width⌋;
    * assets shorter than one row are dropped): predictor 1, the Annex-K
    * DC Huffman table, byte-stuffed entropy data. One native expression
    * per asset; the drop condition is checked on the cheap input length
    * (the [[encodeQoi]] discipline).
    */
  def encodeJpegLossless(assets: DataFrame, width: Int = 40): DataFrame = {
    require(width >= 1 && width <= 65535, "width must fit the u16 SOF field")
    assets
      .filter(octet_length(col("bytes")) >= width)
      .withColumn("bytes",
        graft.functions.JpegNativeFunctions.jpegEncode(col("bytes"), width))
  }

  /** Decode lossless-JPEG assets natively (E229): marker-segment walk,
    * real DHT Huffman-table parse, byte-unstuffed bitstream decode,
    * prediction reconstruction — reporting exact sample sums, the
    * fixed-point mean, and the predictor the scan declared. DCT-based
    * frames (SOF0/1/2 and friends), arithmetic-coded or hierarchical
    * processes, corrupt tables, truncated streams, and forged dimensions
    * all report is_valid = false with null stats; every decoded sample
    * consumes real input bits, so a forged header cannot loop or
    * allocate beyond the u16 row buffer (see JpegLosslessCodec).
    *
    * Scale: one native-expression pass per asset, O(row) state, no
    * explode — the [[qoiStats]]/[[pngStats]] shape exactly.
    */
  def jpegStats(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.JpegNativeFunctions.jpegDecode(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.width").as("width"), col("q.height").as("height"),
        col("q.n_pixels").as("n_pixels"), col("q.sum_v").as("sum_v"),
        col("q.mean_v_milli").as("mean_v_milli"),
        col("q.predictor").as("predictor"))
  }

  // ------------------------------------------------------------------
  // REAL ENTROPY-CODED IMAGE FORMAT #3: BASELINE (LOSSY, DCT) JPEG —
  // what real image lakes overwhelmingly hold. Decoding is genuine
  // T.81 sequential DCT: DQT/DHT parse, DC-predicted + run/size AC
  // Huffman entropy decode, dequantize, inverse DCT. Lossiness does NOT
  // preclude an exact oracle: Huffman coding is bijective on the
  // quantized coefficients, so on engine-encoded fixtures decode∘encode
  // equals the deterministic integer pipeline FDCT→quantize→dequantize→
  // IDCT, which the q272 oracle replays per 8x8 block in DuckDB straight
  // from the raw payload (fixed-point basis, floor-based half-up
  // rounding — see functions/JpegDctExpressions). The external-codec
  // stub below now fences ONLY H.264.
  // ------------------------------------------------------------------

  /** Encode each asset's payload bytes as a baseline single-component
    * SOF0 JPEG of the given sample width (a multiple of 8; height =
    * 8·⌊len/(8·width)⌋ — whole BLOCK ROWS only, so no edge-padded
    * partial blocks exist and the oracle replay is padding-free; assets
    * shorter than one block row are dropped). Annex-K luminance quant +
    * Huffman tables. One native expression per asset; the drop condition
    * is checked on the cheap input length (the [[encodeQoi]] discipline).
    */
  def encodeJpegDct(assets: DataFrame, width: Int = 8): DataFrame = {
    require(width >= 8 && width % 8 == 0, "width must be a multiple of 8")
    assets
      // both drop rules mirror the codec's null conditions exactly, on the
      // cheap input length: no full block row (lower), or a height past
      // the u16 SOF field — 8·⌊len/(8·width)⌋ ≤ 65535 ⇔ len < 8192·8·width
      // (upper). Without the upper filter an oversize payload would
      // survive with NULL bytes and decode to is_valid = NULL while the
      // oracle computes full stats — a latent engine/oracle mismatch.
      .filter(octet_length(col("bytes")) >= 8 * width &&
        octet_length(col("bytes")) < 8192L * 8 * width)
      .withColumn("bytes",
        graft.functions.JpegDctNativeFunctions.jpegDctEncode(col("bytes"), width))
  }

  /** Encode each asset's payload as a 3-component YCbCr 4:2:0 baseline
    * SOF0 JPEG (E234) — the interleaved-MCU shape real camera files hold.
    * Each 384-byte payload slice is one MCU's six 8x8 blocks in
    * interleave order (4 Y, Cb, Cr), so the oracle routes per-block
    * arithmetic by position alone; geometry is 16 x 16·⌊len/384⌋ (whole
    * MCUs only — the [[encodeJpegDct]] whole-block discipline one level
    * up). Assets shorter than one MCU are dropped.
    */
  def encodeJpeg420(assets: DataFrame, restartInterval: Int = 0): DataFrame = {
    assets
      // lower/upper bounds mirror encode420's null rules on the cheap
      // input length: no full MCU, or 16·⌊len/384⌋ > 65535 ⇔ len ≥ 4096·384
      .filter(octet_length(col("bytes")) >= 384 &&
        octet_length(col("bytes")) < 4096L * 384)
      .withColumn("bytes",
        graft.functions.JpegDctNativeFunctions.jpeg420Encode(col("bytes"), restartInterval))
  }

  /** Encode each asset's payload as a 3-component YCbCr 4:2:2 baseline
    * SOF0 JPEG (luma 2x1, chroma 1x1) — the scanner/broadcast shape.
    * Each 256-byte slice is one MCU's four blocks (Y0 Y1 Cb Cr); geometry
    * 16 x 8·⌊len/256⌋. Bounds mirror [[graft.functions.JpegDctCodec
    * .encodeYcc]]'s null rules: no full MCU, or 8·⌊len/256⌋ > 65535.
    */
  def encodeJpeg422(assets: DataFrame, restartInterval: Int = 0): DataFrame = {
    assets
      .filter(octet_length(col("bytes")) >= 256 &&
        octet_length(col("bytes")) < 8192L * 256)
      .withColumn("bytes",
        graft.functions.JpegDctNativeFunctions.jpegYccEncode(col("bytes"), 2, 1, restartInterval))
  }

  /** Encode each asset's payload as a 3-component YCbCr 4:1:1 baseline
    * SOF0 JPEG (luma 4x1, chroma 1x1) — the DV-camera shape, the first
    * fixture with a sampling factor above 2. Each 384-byte slice is one
    * MCU's six blocks (Y0..Y3 Cb Cr); geometry 32 x 8·⌊len/384⌋. Bounds
    * mirror the codec's null rules: no full MCU, or 8·⌊len/384⌋ > 65535.
    */
  def encodeJpeg411(assets: DataFrame, restartInterval: Int = 0): DataFrame = {
    assets
      .filter(octet_length(col("bytes")) >= 384 &&
        octet_length(col("bytes")) < 8192L * 384)
      .withColumn("bytes",
        graft.functions.JpegDctNativeFunctions.jpegYccEncode(col("bytes"), 4, 1, restartInterval))
  }

  /** Encode each asset's payload as a 3-component YCbCr 4:4:4 baseline
    * SOF0 JPEG (all components 1x1) — the screenshot/high-quality shape.
    * Each 192-byte slice is one MCU's three blocks (Y Cb Cr); geometry
    * 8 x 8·⌊len/192⌋. Bounds mirror the codec's null rules.
    */
  def encodeJpeg444(assets: DataFrame, restartInterval: Int = 0): DataFrame = {
    assets
      .filter(octet_length(col("bytes")) >= 192 &&
        octet_length(col("bytes")) < 8192L * 192)
      .withColumn("bytes",
        graft.functions.JpegDctNativeFunctions.jpegYccEncode(col("bytes"), 1, 1, restartInterval))
  }

  /** Encode each asset's payload as a PROGRESSIVE (SOF2) grayscale JPEG
    * (E237) — the web-crawl stream shape — with the SAME fixture rule and
    * quantized coefficients as [[encodeJpegDct]]: six scans exercising
    * spectral selection AND successive approximation (DC first/refine,
    * two AC bands first/refine, EOBRUN coding across blocks). Scan order
    * changes the stream, never the samples, so the q272 coefficient-
    * replay oracle carries over verbatim.
    */
  def encodeJpegProgressive(assets: DataFrame, width: Int = 8): DataFrame = {
    require(width >= 8 && width % 8 == 0, "width must be a multiple of 8")
    assets
      .filter(octet_length(col("bytes")) >= 8 * width &&
        octet_length(col("bytes")) < 8192L * 8 * width)
      .withColumn("bytes",
        graft.functions.JpegDctNativeFunctions.jpegProgEncode(col("bytes"), width))
  }

  /** Encode each asset's payload as a WARC web archive (E246) of
    * ⌊len/recordBytes⌋ response records (whole records only; assets
    * shorter than one record are dropped) — plain concatenated records,
    * or the Common Crawl per-record-gzip wire shape when `gz`.
    */
  def encodeWarc(assets: DataFrame, recordBytes: Int = 256,
      gz: Boolean = false): DataFrame = {
    require(recordBytes >= 1, "recordBytes must be positive")
    assets
      .filter(octet_length(col("bytes")) >= recordBytes)
      .withColumn("bytes",
        graft.functions.WarcNativeFunctions.warcEncode(col("bytes"), recordBytes, gz))
  }

  /** Demux WARC archives natively (E246): strict record grammar (the
    * four mandatory headers exactly once, Content-Length verified
    * against the bytes present, exact terminators), unknown headers
    * skipped as spec-legal; the gz flavour walks gzip members with
    * CRC32 + ISIZE verification and requires one record per member (the
    * splittable-archive contract). Compression changes the wire, never
    * the records — both flavours must report identical stats.
    */
  def warcStats(assets: DataFrame, gz: Boolean = false): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.WarcNativeFunctions.warcDecode(col("bytes"), gz).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.n_records").as("n_records"),
        col("q.n_responses").as("n_responses"),
        col("q.content_bytes").as("content_bytes"),
        col("q.sum_payload").as("sum_payload"))
  }

  /** Encode each asset's payload as a CRAWL-SHAPED WARC (E250): for each
    * whole `bodyBytes` slice a request record and its response record
    * (linked by WARC-Concurrent-To), whose blocks are real RFC 9112 HTTP
    * messages — the response body IS the payload slice. Plain or
    * per-record-gzip wire shape; assets shorter than one body slice are
    * dropped.
    */
  def encodeWarcHttp(assets: DataFrame, bodyBytes: Int = 256,
      gz: Boolean = false, chunked: Boolean = false,
      mixed: Boolean = false, html: Boolean = false): DataFrame = {
    require(bodyBytes >= 1, "bodyBytes must be positive")
    assets
      .filter(octet_length(col("bytes")) >= bodyBytes)
      .withColumn("bytes",
        graft.functions.WarcNativeFunctions.warcHttpEncode(col("bytes"), bodyBytes, gz,
          chunked, mixed, html))
  }

  /** Parse the HTTP layer of a crawl-shaped WARC (E250): every
    * request/response block split per RFC 9112 (status line, header
    * fields, body; Content-Length verified against the bytes present),
    * plus request→response pairing via WARC-Concurrent-To — the first
    * parse every real crawl consumer runs. One native pass per archive.
    */
  def warcHttpStats(assets: DataFrame, gz: Boolean = false): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.WarcNativeFunctions.warcHttpStats(col("bytes"), gz).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.n_records").as("n_records"),
        col("q.n_requests").as("n_requests"),
        col("q.n_responses").as("n_responses"),
        col("q.n_200").as("n_200"),
        col("q.body_bytes").as("body_bytes"),
        col("q.sum_body").as("sum_body"),
        col("q.n_paired").as("n_paired"))
  }

  /** EXTRACT the HTTP response bodies from a crawl-shaped WARC (E250):
    * one output row per response record in archive order, carrying the
    * status, the extracted body bytes, and the body stats. This is the
    * crawl-to-documents fan-out a training pipeline runs first.
    */
  def warcHttpRecords(assets: DataFrame, gz: Boolean = false): DataFrame = {
    assets
      .select(col("asset_id"),
        explode(graft.functions.WarcNativeFunctions.warcHttpRecords(col("bytes"), gz)).as("r"))
      .select(col("asset_id"), col("r.rec_idx").as("rec_idx"),
        col("r.status").as("status"), col("r.body_len").as("body_len"),
        col("r.body_sum").as("body_sum"), col("r.body").as("body"),
        col("r.content_type").as("content_type"),
        col("r.n_headers").as("n_headers"))
  }

  /** WAT-style metadata extraction (E277): the crawl-to-metadata
    * conversion that completes the WARC/WAT/WET trio — one row per HTTP
    * response carrying the envelope facts a WAT record holds: status,
    * the HTTP Content-Type, header count, body length, and the HTML
    * facts pulled from the payload itself — the `<title>`, the outlink
    * count, and a digest over the extracted `href` VALUES in document
    * order (proof the links were extracted, not counted). Map-only
    * after the container walk (two regex passes per row, no shuffle);
    * non-HTML payloads yield an empty title and zero links rather than
    * invalidating.
    */
  def warcWatExtracts(assets: DataFrame, gz: Boolean = false): DataFrame = {
    val body = col("body").cast("string")
    warcHttpRecords(assets, gz)
      .select(col("asset_id"), col("rec_idx"), col("status"),
        col("content_type"), col("n_headers"),
        col("body_len"),
        regexp_extract(body, "<title>([^<]*)</title>", 1).as("title"),
        expr("regexp_extract_all(CAST(body AS STRING), " +
          "'href=\"([^\"]*)\"', 1)").as("hrefs"))
      .select(col("asset_id"), col("rec_idx"), col("status"),
        col("content_type"), col("n_headers"), col("body_len"),
        col("title"),
        size(col("hrefs")).cast("long").as("n_links"),
        md5(concat_ws("|", col("hrefs"))).as("link_hash"))
  }

  /** WET-style text extraction (E264): the crawl-to-corpus conversion
    * every training pipeline runs second — the [[warcHttpRecords]]
    * fan-out filtered to HTTP 200 responses, each body decoded as UTF-8
    * and run through the [[TextAnalysis.cleanMarkup]] pipeline (tag
    * strip, entity decode, whitespace collapse), emitting one
    * text-document row per response with its cleaned hash, length, and
    * whitespace-token count. Composes two green operators; map-only
    * after the container walk (regex chain per row, no shuffle).
    */
  def warcTextExtracts(assets: DataFrame, gz: Boolean = false): DataFrame = {
    val clean = TextAnalysis.cleanMarkup(col("body").cast("string"))
    warcHttpRecords(assets, gz)
      .filter(col("status") === 200)
      .select(col("asset_id"), col("rec_idx"), clean.as("text_clean"))
      .select(col("asset_id"), col("rec_idx"),
        md5(col("text_clean")).as("clean_hash"),
        length(col("text_clean")).cast("long").as("clean_len"),
        when(col("text_clean") === "", 0L)
          .otherwise(size(split(col("text_clean"), " ")).cast("long"))
          .as("n_tokens"))
  }

  /** Encode each asset's payload as a USTAR shard (E269) of
    * ⌊len/memberBytes⌋ regular-file members (whole members only; assets
    * shorter than one member are dropped) — plain, or the `.tar.gz`
    * wire (one gzip member over the whole archive) when `gz`. The
    * WebDataset packaging shape.
    */
  def encodeTar(assets: DataFrame, memberBytes: Int = 256,
      gz: Boolean = false, pax: Boolean = false,
      bgzf: Boolean = false, mgz: Boolean = false,
      snap: Boolean = false, lz4: Boolean = false,
      gzHdr: Boolean = false): DataFrame = {
    require(memberBytes >= 1, "memberBytes must be positive")
    assets
      .filter(octet_length(col("bytes")) >= memberBytes)
      .withColumn("bytes",
        graft.functions.TarNativeFunctions.tarEncode(col("bytes"), memberBytes, gz, pax,
          bgzf, mgz, snap, lz4, gzHdr))
  }

  /** Demux USTAR shards natively (E269): header checksum audit, strict
    * octal grammar, regular-file typeflag, zero data padding, the
    * two-zero-block end marker, exact EOF — and the gzip wrapper's
    * CRC32/ISIZE when wrapped. One native pass per shard; the gz wire
    * must report IDENTICAL stats to the plain wire.
    */
  def tarStats(assets: DataFrame, gz: Boolean = false,
      bgzf: Boolean = false, snap: Boolean = false,
      lz4: Boolean = false): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.TarNativeFunctions.tarDecode(col("bytes"), gz, bgzf, snap, lz4).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.n_members").as("n_members"),
        col("q.content_bytes").as("content_bytes"),
        col("q.sum_payload").as("sum_payload"),
        col("q.sum_iv").as("sum_iv"))
  }

  /** EXTRACT the members of a USTAR shard (E269): one row per member in
    * shard order — the shard-to-samples fan-out a WebDataset-style
    * training pipeline runs first.
    */
  def tarMembers(assets: DataFrame, gz: Boolean = false): DataFrame = {
    assets
      .select(col("asset_id"),
        explode(graft.functions.TarNativeFunctions.tarMembers(col("bytes"), gz)).as("m"))
      .select(col("asset_id"), col("m.member_idx").as("member_idx"),
        col("m.name").as("name"), col("m.size").as("size"),
        col("m.member_sum").as("member_sum"), col("m.bytes").as("bytes"),
        col("m.data_offset").as("data_offset"))
  }

  /** Shard member INDEX (E279): the WebDataset `.idx` shape — one
    * metadata row per member (name, size, byte offset of the member's
    * data in the decompressed stream) and NO member bytes, the seek
    * table a random-access shard loader builds once and reuses every
    * epoch. The offsets come from the decoder's own walk (pax metadata
    * blocks and padding skipped correctly), not arithmetic guesses.
    */
  def tarIndex(assets: DataFrame, gz: Boolean = false): DataFrame = {
    assets
      .select(col("asset_id"),
        explode(graft.functions.TarNativeFunctions.tarMembers(col("bytes"), gz)).as("m"))
      .select(col("asset_id"), col("m.member_idx").as("member_idx"),
        col("m.name").as("name"), col("m.size").as("size"),
        col("m.data_offset").as("data_offset"))
  }

  /** WebDataset-style shard INGEST (E273): the tar-member fan-out
    * composed with the text pipeline — each member's bytes decoded as
    * UTF-8 and run through [[TextAnalysis.cleanMarkup]], one sample row
    * per member with its cleaned hash, length, and whitespace-token
    * count. This is the shard-to-training-samples conversion a
    * WebDataset loader performs; map-only on both sides of the explode.
    */
  def tarTextIngest(assets: DataFrame, gz: Boolean = false): DataFrame = {
    val clean = TextAnalysis.cleanMarkup(col("bytes").cast("string"))
    tarMembers(assets, gz)
      .select(col("asset_id"), col("member_idx"), col("name"),
        clean.as("text_clean"))
      .select(col("asset_id"), col("member_idx"), col("name"),
        md5(col("text_clean")).as("clean_hash"),
        length(col("text_clean")).cast("long").as("clean_len"),
        when(col("text_clean") === "", 0L)
          .otherwise(size(split(col("text_clean"), " ")).cast("long"))
          .as("n_tokens"))
  }

  /** Encode each asset's payload as a ZIP archive (E270) of
    * ⌊len/memberBytes⌋ members (whole members only; assets shorter than
    * one member are dropped) — stored, or per-member DEFLATE; `zip64`
    * selects the zip64-always wire (E275), `descriptor` the
    * streaming-writer data-descriptor wire (E276).
    */
  def encodeZip(assets: DataFrame, memberBytes: Int = 100,
      deflate: Boolean = false, zip64: Boolean = false,
      descriptor: Boolean = false,
      namePrefix: String = "doc"): DataFrame = {
    require(memberBytes >= 1, "memberBytes must be positive")
    assets
      .filter(octet_length(col("bytes")) >= memberBytes)
      .withColumn("bytes",
        graft.functions.ZipNativeFunctions.zipEncode(col("bytes"), memberBytes, deflate,
          zip64, descriptor, namePrefix))
  }

  /** Demux ZIP archives natively (E270): central-directory walk with
    * local-header agreement, exact member tiling, per-member CRC-32 and
    * size verification, DEFLATE inflation bounded by the declared
    * sizes. The stored and deflate wires must report IDENTICAL stats.
    */
  def zipStats(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.ZipNativeFunctions.zipDecode(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.n_members").as("n_members"),
        col("q.content_bytes").as("content_bytes"),
        col("q.sum_payload").as("sum_payload"),
        col("q.sum_iv").as("sum_iv"))
  }

  /** EXTRACT the members of a ZIP archive (E280): one row per member in
    * directory order, carrying the data span (offset, compressed size,
    * method) alongside the inflated bytes — ZIP's central directory IS
    * a random-access index, and the span columns are the seek-table
    * entries a loader uses to read ONE member from a large archive
    * without streaming the rest.
    */
  def zipMembers(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        explode(graft.functions.ZipNativeFunctions.zipMembers(col("bytes"))).as("m"))
      .select(col("asset_id"), col("m.member_idx").as("member_idx"),
        col("m.name").as("name"), col("m.size").as("size"),
        col("m.member_sum").as("member_sum"), col("m.bytes").as("bytes"),
        col("m.data_offset").as("data_offset"),
        col("m.comp_size").as("comp_size"), col("m.method").as("method"))
  }

  /** Encode each asset's payload bytes as a bottom-up RLE8 BMP (E287)
    * of the given column width (`h = ⌊len/width⌋` whole rows; shorter
    * assets are dropped) — the compressed BMP wire with the 256-entry
    * fixture palette.
    */
  def encodeBmpRle8(assets: DataFrame, width: Int = 40): DataFrame = {
    require(width >= 1 && width <= 0xffff, "width must fit the header")
    assets
      .filter(octet_length(col("bytes")) >= width &&
        octet_length(col("bytes")) <=
          graft.functions.BmpRleCodec.MaxPixels.toLong)
      .withColumn("bytes",
        graft.functions.BmpRleNativeFunctions.bmpRle8Encode(col("bytes"), width))
  }

  /** Decode RLE8 BMP assets natively (E287): strict header + palette +
    * RLE walk (encoded/absolute modes, EOL/EOB escapes, the delta
    * escape a visible reject), palette-resolved channel sums plus
    * row/col-weighted placement sums in IMAGE coordinates — the
    * bottom-up flip proof.
    */
  def bmpRle8Stats(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.BmpRleNativeFunctions.bmpRle8Decode(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.width").as("width"), col("q.height").as("height"),
        col("q.n_pixels").as("n_pixels"), col("q.sum_r").as("sum_r"),
        col("q.sum_g").as("sum_g"), col("q.sum_b").as("sum_b"),
        col("q.mean_luma_milli").as("mean_luma_milli"),
        col("q.sum_rowv").as("sum_rowv"),
        col("q.sum_colv").as("sum_colv"))
  }

  /** Encode each asset's payload bytes (index = byte mod 16) as a
    * bottom-up RLE4 BMP (E291) — the 16-color compressed BMP wire with
    * alternating-nibble encoded runs.
    */
  def encodeBmpRle4(assets: DataFrame, width: Int = 40): DataFrame = {
    require(width >= 1 && width <= 0xffff, "width must fit the header")
    assets
      .filter(octet_length(col("bytes")) >= width &&
        octet_length(col("bytes")) <=
          graft.functions.BmpRleCodec.MaxPixels.toLong)
      .withColumn("bytes",
        graft.functions.BmpRleNativeFunctions.bmpRle4Encode(col("bytes"), width))
  }

  /** Decode RLE4 BMP assets natively (E291): the RLE8 walk's strictness
    * over the nibble-packed wire — alternating encoded runs, high-first
    * absolute nibbles with required-zero padding, image-coordinate
    * weighting proving the bottom-up flip.
    */
  def bmpRle4Stats(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.BmpRleNativeFunctions.bmpRle4Decode(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.width").as("width"), col("q.height").as("height"),
        col("q.n_pixels").as("n_pixels"), col("q.sum_r").as("sum_r"),
        col("q.sum_g").as("sum_g"), col("q.sum_b").as("sum_b"),
        col("q.mean_luma_milli").as("mean_luma_milli"),
        col("q.sum_rowv").as("sum_rowv"),
        col("q.sum_colv").as("sum_colv"))
  }

  /** ZIP shard INGEST (E280's composition): the [[zipMembers]] fan-out
    * composed with the text pipeline — demux + inflate + extract +
    * markup-strip + tokenize in ONE pass over the zip wire, one sample
    * row per member. The zip twin of [[tarTextIngest]] (dataset dumps
    * ship as zip at least as often as tar).
    */
  def zipTextIngest(assets: DataFrame): DataFrame = {
    val clean = TextAnalysis.cleanMarkup(col("bytes").cast("string"))
    zipMembers(assets)
      .select(col("asset_id"), col("member_idx"), col("name"),
        clean.as("text_clean"))
      .select(col("asset_id"), col("member_idx"), col("name"),
        md5(col("text_clean")).as("clean_hash"),
        length(col("text_clean")).cast("long").as("clean_len"),
        when(col("text_clean") === "", 0L)
          .otherwise(size(split(col("text_clean"), " ")).cast("long"))
          .as("n_tokens"))
  }

  /** Encode each asset's payload bytes as the color indices of a GIF89a
    * image (E245) of the given column width (height = ⌊len/width⌋ whole
    * rows; assets shorter than one row are dropped) — real LZW entropy
    * coding, variable-width codes packed LSB-first, 256-entry global
    * color table derived from the index (see [[graft.functions.GifCodec]]).
    */
  def encodeGif(assets: DataFrame, width: Int = 40, palBits: Int = 8,
      interlaced: Boolean = false, frameHeight: Int = 0,
      localPalettes: Boolean = false,
      partialFrames: Boolean = false): DataFrame = {
    require(width >= 1 && width <= 65535, "width must fit the u16 field")
    require(palBits >= 1 && palBits <= 8, "palBits must be in 1..8")
    // lower bound mirrors the codec's null rule (no full row / frame);
    // upper bound mirrors the u16 height cap (single image) or the total
    // 2^24-pixel cap (animation), both on the cheap input length
    val minLen = if (frameHeight > 0) width.toLong * frameHeight else width.toLong
    val maxLen =
      if (frameHeight > 0) graft.functions.GifCodec.MaxPixels.toLong + 1
      else 65536L * width
    assets
      .filter(octet_length(col("bytes")) >= minLen &&
        octet_length(col("bytes")) < maxLen)
      .withColumn("bytes",
        graft.functions.GifNativeFunctions.gifEncode(col("bytes"),
          width, palBits, interlaced, frameHeight, localPalettes,
          partialFrames))
  }

  /** Decode GIF assets natively (E245): strict header/descriptor parse,
    * global-color-table read-back, full LZW decode (CLEAR/EOI, KwKwK,
    * variable code widths, sub-block framing), spec-legal extension
    * blocks skipped — reporting exact index and palette-resolved channel
    * sums. GIF is lossless on indices, so on engine-encoded fixtures the
    * oracle computes every sum straight from raw payload bytes.
    *
    * Scale: one native pass per asset, O(4096) dictionary state, pixels
    * never buffered — the codec-walk shape.
    */
  def gifStats(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.GifNativeFunctions.gifDecode(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.width").as("width"), col("q.height").as("height"),
        col("q.n_pixels").as("n_pixels"), col("q.sum_idx").as("sum_idx"),
        col("q.sum_r").as("sum_r"), col("q.sum_g").as("sum_g"),
        col("q.sum_b").as("sum_b"),
        col("q.mean_idx_milli").as("mean_idx_milli"),
        col("q.n_frames").as("n_frames"),
        col("q.sum_delay").as("sum_delay"),
        col("q.sum_rowv").as("sum_rowv"),
        col("q.sum_colv").as("sum_colv"))
  }

  /** COMPOSITE animated GIFs (E272): the frame stack rendered as a
    * viewer renders it — last write wins per screen cell, disposal 2
    * restores its rect to background, disposal 3 restores the pre-draw
    * content, transparent pixels leave the underlying cell, and each
    * cell keeps the palette of the frame that painted it. Reports the
    * FINAL screen's stats. One buffer-backed native pass per asset.
    */
  def gifComposite(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.GifNativeFunctions.gifComposite(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.n_frames").as("n_frames"),
        col("q.n_painted").as("n_painted"),
        col("q.sum_fidx").as("sum_fidx"),
        col("q.sum_frowv").as("sum_frowv"),
        col("q.sum_fr").as("sum_fr"), col("q.sum_fg").as("sum_fg"),
        col("q.sum_fb").as("sum_fb"))
  }

  /** Encode each asset's payload (as little-endian 16-bit mono PCM) into
    * a FLAC stream (E253): CONSTANT/FIXED/VERBATIM — and, when
    * `lpcOrder` > 0, Levinson-Durbin-fitted LPC — subframes chosen by
    * exact bit cost, Rice-coded residuals, per-frame CRC-8/CRC-16, and
    * the STREAMINFO MD5 of the unencoded audio. Assets shorter than one
    * sample are dropped.
    */
  def encodeFlac(assets: DataFrame, lpcOrder: Int = 0,
      stereo: Boolean = false, bps: Int = 16,
      varBlock: Boolean = false): DataFrame = {
    require(bps == 16 || bps == 24, "bps must be 16 or 24")
    val minLen = (if (stereo) 2L else 1L) * (bps / 8)
    assets
      .filter(octet_length(col("bytes")) >= minLen &&
        octet_length(col("bytes")) <= 33554432L)
      .withColumn("bytes",
        graft.functions.FlacNativeFunctions.flacEncode(col("bytes"),
          lpcOrder, stereo, bps, varBlock))
  }

  /** Decode FLAC assets natively (E253): full frame-header verification
    * (sync, codes, UTF-8 frame numbers, CRC-8), Rice residual decode,
    * fixed-predictor reconstruction, CRC-16 per frame, and the
    * STREAMINFO MD5 identity over the reconstructed PCM — the stream's
    * own proof that the decode is lossless. sum_is (index-weighted
    * sample sum) is the order-sensitive stat.
    */
  def flacStats(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.FlacNativeFunctions.flacDecode(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.n_frames").as("n_frames"),
        col("q.n_samples").as("n_samples"), col("q.sum_s").as("sum_s"),
        col("q.sum_abs").as("sum_abs"), col("q.sum_is").as("sum_is"))
  }

  /** Encode each asset's payload as an 8-bit grayscale classic TIFF
    * (E252) of the given column width (height = ⌊len/width⌋ whole rows;
    * assets shorter than one row are dropped) — either byte order,
    * uncompressed or PackBits strips; see [[graft.functions.TiffCodec]].
    */
  def encodeTiff(assets: DataFrame, width: Int = 40,
      bigEndian: Boolean = false, packBits: Boolean = false,
      lzw: Boolean = false, pageHeight: Int = 0,
      predictor2: Boolean = false, fillOrder2: Boolean = false,
      tiled: Boolean = false, rgb: Boolean = false): DataFrame = {
    require(width >= 1, "width must be positive")
    // E292: RGB rows span width*3 payload bytes
    val rowBytes = width.toLong * (if (rgb) 3 else 1)
    assets
      // lower bound mirrors the codec's null rule (no full row); upper
      // bound mirrors the 2^24-pixel cap, both on the cheap input length
      .filter(octet_length(col("bytes")) >=
          (if (pageHeight > 0) rowBytes * pageHeight else rowBytes) &&
        octet_length(col("bytes")) <=
          graft.functions.TiffCodec.MaxPixels.toLong)
      .withColumn("bytes",
        graft.functions.TiffNativeFunctions.tiffEncode(col("bytes"),
          width, bigEndian, packBits, lzw, pageHeight, predictor2,
          fillOrder2, tiled, rgb))
  }

  /** Decode TIFF assets natively (E252): strict header + IFD walk (both
    * byte orders, ascending-tag audit, the full baseline-grayscale
    * required-tag set), strip assembly with per-row PackBits restart —
    * reporting exact pixel sums plus the order-sensitive row-weighted
    * sum that pins strip order. Lossless, so on engine-encoded fixtures
    * the oracle reads every stat off raw payload bytes, and the
    * PackBits / big-endian wire hash-matches the uncompressed oracle
    * verbatim.
    */
  def tiffStats(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.TiffNativeFunctions.tiffDecode(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.width").as("width"), col("q.height").as("height"),
        col("q.n_pixels").as("n_pixels"), col("q.sum_v").as("sum_v"),
        col("q.mean_v_milli").as("mean_v_milli"),
        col("q.sum_rowv").as("sum_rowv"),
        col("q.n_strips").as("n_strips"),
        col("q.n_pages").as("n_pages"),
        col("q.sum_r").as("sum_r"), col("q.sum_g").as("sum_g"),
        col("q.sum_b").as("sum_b"))
  }

  /** Encode each asset's payload as an MJPEG AVI container (E240): each
    * consecutive `frameBytes` slice becomes one grayscale baseline-JPEG
    * frame (whole frames only — the [[encodeJpegDct]] whole-block
    * discipline one level up; assets shorter than one frame are
    * dropped). The container is the public AVI RIFF layout with an idx1
    * index; see [[graft.functions.AviCodec]].
    */
  def encodeMjpegAvi(assets: DataFrame, width: Int = 8,
      frameBytes: Int = 128): DataFrame = {
    require(width >= 8 && width % 8 == 0, "width must be a multiple of 8")
    require(frameBytes >= 8 * width && frameBytes % (8 * width) == 0,
      "frameBytes must hold whole block rows")
    assets
      // lower bound mirrors the codec's null rule (no full frame); the
      // upper bound keeps the fixture inside the q272 oracle's byte cap
      .filter(octet_length(col("bytes")) >= frameBytes &&
        octet_length(col("bytes")) < 524288)
      .withColumn("bytes",
        graft.functions.AviNativeFunctions.aviMjpegEncode(col("bytes"), width, frameBytes))
  }

  /** Demux + decode MJPEG-AVI assets natively (E240): strict RIFF walk
    * (header/stream/index cross-verified against the actual chunk bytes)
    * with every frame entropy-decoded by the full baseline-JPEG path —
    * reporting the container frame count, frame geometry, and exact
    * whole-video sample sums. Any framing, index, or frame-shape
    * violation reports `is_valid = false` with null stats.
    *
    * Scale: one native-expression pass per asset, O(64) block state plus
    * running sums — linear in container byte mass, the [[jpegDctStats]]
    * shape.
    */
  def mjpegAviStats(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.AviNativeFunctions.aviMjpegDecode(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.n_frames").as("n_frames"), col("q.width").as("width"),
        col("q.frame_height").as("frame_height"),
        col("q.n_pixels").as("n_pixels"), col("q.sum_v").as("sum_v"),
        col("q.mean_v_milli").as("mean_v_milli"),
        col("q.n_blocks").as("n_blocks"))
  }

  /** The A+V container shape (E243): [[encodeMjpegAvi]] plus a second
    * interleaved mono PCM16 'auds' stream whose per-frame '01wb' chunk
    * carries the SAME payload slice as that frame's video (64 samples per
    * 128-byte frame) — so the oracle reads the audio sums straight off
    * the truncated payload while the engine must demux them back out of
    * the interleave.
    */
  def encodeAviAv(assets: DataFrame, width: Int = 8,
      frameBytes: Int = 128): DataFrame = {
    require(width >= 8 && width % 8 == 0, "width must be a multiple of 8")
    require(frameBytes >= 8 * width && frameBytes % (8 * width) == 0 &&
      frameBytes % 2 == 0,
      "frameBytes must hold whole block rows and whole 16-bit samples")
    assets
      .filter(octet_length(col("bytes")) >= frameBytes &&
        octet_length(col("bytes")) < 524288)
      .withColumn("bytes",
        graft.functions.AviNativeFunctions.aviAvEncode(col("bytes"), width, frameBytes))
  }

  /** Demux + decode A+V AVI assets natively (E243): [[mjpegAviStats]]'s
    * strict walk extended to the two-stream interleave — the audio
    * stream header (mono PCM16, rate/size/length cross-consistent), the
    * per-frame '00dc'/'01wb' alternation, and both streams' idx1 entries
    * are all verified; output adds the exact signed sample sum and count
    * next to the video stats.
    */
  def aviAvStats(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.AviNativeFunctions.aviAvDecode(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.n_frames").as("n_frames"), col("q.width").as("width"),
        col("q.frame_height").as("frame_height"),
        col("q.n_pixels").as("n_pixels"), col("q.sum_v").as("sum_v"),
        col("q.n_samples").as("n_samples"), col("q.sum_s").as("sum_s"),
        col("q.n_blocks").as("n_blocks"))
  }

  /** [[encodeJpegDct]] with a JFIF APP0 density header and an Exif APP1
    * orientation record (E238) — metadata derived deterministically from
    * the payload's first bytes so the oracle reads expected values off
    * the raw payload while the engine must parse the stream's TIFF IFD.
    */
  def encodeJpegDctMeta(assets: DataFrame, width: Int = 8): DataFrame = {
    require(width >= 8 && width % 8 == 0, "width must be a multiple of 8")
    assets
      .filter(octet_length(col("bytes")) >= 8 * width &&
        octet_length(col("bytes")) < 8192L * 8 * width)
      .withColumn("bytes",
        graft.functions.JpegDctNativeFunctions.jpegMetaEncode(col("bytes"), width))
  }

  /** JPEG metadata surface (E238): JFIF density (units/X/Y) and Exif
    * orientation parsed natively from the APP0/APP1 segments — the
    * image-lake profiler columns (orientation matters before any
    * perceptual-hash use on camera files). Null when the stream carries
    * no such segment; a segment that DECLARES JFIF/Exif but is malformed
    * invalidates the asset (strict, like every other codec path).
    */
  def jpegMetadata(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.JpegDctNativeFunctions.jpegDctDecode(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.exif_orientation").as("exif_orientation"),
        col("q.jfif_units").as("jfif_units"),
        col("q.jfif_xdensity").as("jfif_xdensity"),
        col("q.jfif_ydensity").as("jfif_ydensity"),
        col("q.n_pixels").as("n_pixels"))
  }

  /** Decode YCbCr 4:2:0 baseline JPEG assets natively (E234): the same
    * decoder as [[jpegDctStats]] — it handles grayscale AND interleaved
    * 4:2:0 frames — surfacing the per-component sums (exact Y/Cb/Cr
    * reconstructed-sample totals), the luma mean, and the total block
    * count. Everything the single-component path rejects stays rejected;
    * 4:2:0 adds per-component quant/Huffman table routing and the
    * 2x2-Y + Cb + Cr MCU interleave with per-component DC predictors.
    */
  def jpeg420Stats(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.JpegDctNativeFunctions.jpegDctDecode(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.width").as("width"), col("q.height").as("height"),
        col("q.n_pixels").as("n_pixels"),
        col("q.n_components").as("n_components"),
        col("q.sum_v").as("sum_y"), col("q.sum_cb").as("sum_cb"),
        col("q.sum_cr").as("sum_cr"),
        col("q.mean_v_milli").as("mean_y_milli"),
        col("q.n_blocks").as("n_blocks"))
  }

  /** Decode baseline-DCT JPEG assets natively (E231): marker walk, DQT
    * (zigzag) + DHT (DC and AC classes) parse, byte-unstuffed entropy
    * decode with DC prediction and EOB/ZRL run coding, dequantization,
    * fixed-point inverse DCT — reporting the exact reconstructed-sample
    * sum, the fixed-point mean, and the block count. Progressive /
    * lossless / arithmetic / hierarchical / multi-component / subsampled
    * frames, corrupt tables, truncated streams, and forged dimensions
    * all report is_valid = false with null stats; every block consumes
    * real input bits, so a forged header cannot loop, and a coefficient
    * stream past the IDCT's overflow-safe bound is rejected, never
    * decoded wrong.
    *
    * Scale: one native-expression pass per asset, O(64) block state, no
    * explode — the [[qoiStats]]/[[pngStats]]/[[jpegStats]] shape exactly.
    */
  def jpegDctStats(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.JpegDctNativeFunctions.jpegDctDecode(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.width").as("width"), col("q.height").as("height"),
        col("q.n_pixels").as("n_pixels"), col("q.sum_v").as("sum_v"),
        col("q.mean_v_milli").as("mean_v_milli"),
        col("q.n_blocks").as("n_blocks"))
  }

  // ------------------------------------------------------------------
  // PERCEPTUAL IMAGE DEDUP: dHash (difference hash) computed THROUGH the
  // real decode path — the multimodal analog of the text simhash family.
  // dHash is the public gradient-hash scheme: box-downsample the image
  // to a 9x8 luma grid, emit one bit per horizontally adjacent cell pair
  // (right brighter than left), 64 bits total. Near-identical images
  // (recompressed, slightly cropped, brightness-shifted) land within a
  // few bits of each other; exact byte dedup sees none of that.
  // ------------------------------------------------------------------

  /** dHash per decodable BMP asset (E220): the real header parse feeding a
    * NATIVE per-asset grid walk ([[graft.functions.MediaWalks.bmpDHash]]):
    * box-filter to the 9x8 luma grid (cell = (x·9 div w, y·8 div h) over
    * IMAGE coordinates — bottom-up and top-down storage of the same pixels
    * hash identically: bottom-up BMPs store image row 0 LAST, and without
    * the remap a vertical-flip-of-storage would pair at hamming ~64), then
    * per grid row adjacent-cell mean comparisons packed into two 32-bit
    * halves (`dhash_lo` = grid rows 0–3, `dhash_hi` = rows 4–7 — split so
    * neither engine ever touches the BIGINT sign bit). Mean comparisons
    * are integer-exact via cross-multiplication (Σ₁·n₂ > Σ₂·n₁, with
    * Σ ≤ n·255000: products stay under 2⁶³ while n stays below ~6·10⁶
    * pixels per cell, i.e. images under ~0.4 gigapixels). Assets
    * smaller than the 9x8 grid (or undecodable) are dropped: dHash is
    * undefined below grid resolution.
    *
    * Scale: ONE O(1)-state pass per asset inside the scan stage — no
    * per-pixel explode, no cell shuffle at all (the exploded predecessor
    * shipped 72 cells per asset and its fused pivot + bit-packing stage
    * outgrew Janino's 64 KB limit into interpreted fallback); only the
    * 3-long (asset_id, dhash_lo, dhash_hi) row leaves the scan.
    */
  def bmpDHash(assets: DataFrame): DataFrame = {
    bmpHeader(assets)
      .filter(col("is_valid") && col("w") >= 9L && col("hgt") >= 8L)
      .select(col("asset_id"),
        graft.functions.MediaNativeFunctions.bmpDHashWalk(col("bytes"), col("w"),
          col("hgt"), col("hraw"), col("stride"), col("poff")).as("d"))
      .select(col("asset_id"), col("d.dhash_lo").as("dhash_lo"),
        col("d.dhash_hi").as("dhash_hi"))
  }

  /** 128-bit multi-orientation perceptual fingerprint per decodable BMP
    * asset (E230): the row-gradient dHash (d0/d1, bit-identical to
    * [[bmpDHash]]'s halves) PLUS a column-gradient dHash over the
    * transposed 8x9 grid (d2/d3) — four sign-safe 32-bit words from ONE
    * O(1)-state native pixel pass
    * ([[graft.functions.MediaWalks.bmpDHash128]]).
    *
    * Why 128 bits: the near-dup join bands the fingerprint, and band-key
    * cardinality is what makes the join scale — 64 bits force 8x8-bit
    * bands (256 keys each), so past a few thousand assets every bucket
    * saturates and in-bucket candidate mass grows ~k² with the corpus.
    * 128 bits band as 8x16-bit keys (65,536 each, still pigeonhole-
    * lossless at hamming ≤ 7), so bucket cardinality grows WITH the
    * corpus and candidate mass stays near-linear on non-degenerate data —
    * the same join-key-cardinality rule the text joins obey (the q22
    * lesson, FuzzyJoin's scale note). Requires w ≥ 9 and hgt ≥ 9 (both
    * grid orientations need 9 cells along their gradient axis); smaller
    * or undecodable assets are dropped as below grid resolution.
    */
  def bmpDHash128(assets: DataFrame): DataFrame = {
    bmpHeader(assets)
      .filter(col("is_valid") && col("w") >= 9L && col("hgt") >= 9L)
      .select(col("asset_id"),
        graft.functions.MediaNativeFunctions.bmpDHash128Walk(col("bytes"), col("w"),
          col("hgt"), col("hraw"), col("stride"), col("poff")).as("d"))
      .select(col("asset_id"), col("d.d0").as("d0"), col("d.d1").as("d1"),
        col("d.d2").as("d2"), col("d.d3").as("d3"))
  }

  /** Near-duplicate image pairs by fingerprint hamming distance (E221):
    * LSH on 8 bands of 16 bits over the [[bmpDHash128]] frame
    * (d0..d3). Two fingerprints within hamming ≤ 7 differ in at most 7
    * bands, so by pigeonhole they AGREE on at least one — the candidate
    * generation is LOSSLESS for maxHamming ≤ 7 (this is the same band
    * guarantee the text-simhash path uses), and only bucket collisions
    * are ever compared, never all pairs. The verify step recomputes the
    * exact distance with bit_count over the per-word xors.
    *
    * Scale: each asset emits exactly 8 (band_id, band_val) keys into a
    * 65,536-key space per band, so bucket cardinality grows with the
    * corpus and candidate mass stays near-linear on non-degenerate data
    * (the 64-bit predecessor's 256-key bands saturated past a few
    * thousand assets — candidate mass ~k²; that ceiling is what the wide
    * fingerprint removes). The join is equi-keyed on those buckets and
    * the pair set dedups map-side via the aggregate. Byte-identical
    * corpora belong to EXACT dedup first — the content-digest pass
    * [[withContentFacts]] removes them before perceptual hashing (the
    * documented composition order) — and the near-constant-but-not-
    * identical corpora exact dedup CANNOT remove (solid-color frames,
    * silence-heavy audio) are bounded by the `bucketCap` block salting
    * inside [[fingerprintNearDup]].
    */
  def dhashNearDup(hashes: DataFrame, maxHamming: Int = 6,
      bucketCap: Int = 4096): DataFrame =
    fingerprintNearDup(hashes, Seq("d0", "d1", "d2", "d3"), maxHamming,
      bucketCap)

  /** Two-word (64-bit) overload of [[fingerprintNearDup]], kept for the
    * legacy 8x8-bit-band shape — see the width note on [[bmpDHash128]]:
    * the 256-key band space saturates at corpus scale, so the shipped
    * near-dup pipelines use the 128-bit words.
    */
  def fingerprintNearDup(hashes: DataFrame, loCol: String, hiCol: String,
      maxHamming: Int, bucketCap: Int): DataFrame =
    fingerprintNearDup(hashes, Seq(loCol, hiCol), maxHamming, bucketCap)

  def fingerprintNearDup(hashes: DataFrame, loCol: String, hiCol: String,
      maxHamming: Int): DataFrame =
    fingerprintNearDup(hashes, Seq(loCol, hiCol), maxHamming, 4096)

  /** The banded-fingerprint near-dup join shared by image dHash
    * ([[bmpDHash128]]/[[bmpDHash]]) and audio energy-contour fingerprints
    * ([[audioFingerprint128]]/[[audioFingerprint]]): any
    * (asset_id, word...) frame of 2 or 4 sign-safe 32-bit words joins
    * through a lossless 8-band LSH — two hashes within hamming ≤ 7
    * differ in at most 7 bands, so by pigeonhole they AGREE on at least
    * one (the same band guarantee the text-simhash path uses); only
    * bucket collisions are ever compared, never all pairs, and the
    * verify step recomputes the exact distance with bit_count over the
    * per-word xors.
    *
    * Band width follows the word count: 4 words (128 bits) → 8 bands of
    * 16 bits (65,536 keys each — bucket cardinality grows with the
    * corpus, candidate mass near-linear on non-degenerate data); 2 words
    * (64 bits) → 8 bands of 8 bits (256 keys each — saturates at corpus
    * scale; legacy shape, see [[bmpDHash128]]).
    *
    * Hot buckets are block-salted (the Similarity.blockAssignments
    * discipline, Similarity.scala:695): a bucket of size s splits into
    * ⌈s/bucketCap⌉ blocks by stable id hash, and the join runs per
    * BLOCK PAIR — still lossless (block pairs cover every in-bucket
    * pair exactly once), but no single join key ever compares more than
    * ~bucketCap² rows. Without the cap, a degenerate-but-realistic
    * corpus — thousands of near-constant images or silence-heavy audio
    * clips, NOT byte-identical so exact dedup passes them — lands whole
    * in one band bucket and the verify goes k² inside one task.
    */
  def fingerprintNearDup(hashes: DataFrame, wordCols: Seq[String],
      maxHamming: Int, bucketCap: Int = 4096): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      "8-band candidate generation is lossless only for maxHamming <= 7")
    require(bucketCap >= 1, "bucketCap must be positive")
    val ws = wordCols.indices.map(j => s"w$j")
    val blocked = fingerprintBlocked(hashes, wordCols, bucketCap)
    // the (bi, bj) block-pair enumeration: side A carries its own block as
    // bi and fans out to every bj >= bi; side B carries its block as bj
    // and fans out to every bi <= bj — each ordered block pair meets
    // exactly once, same-block pairs meet in both orientations (dropped
    // to one by id order), cross-block pairs are normalized by
    // least/greatest (hamming is symmetric, so it can be computed before
    // the normalization)
    val a = blocked.select(Seq(col("band_id"), col("band_val"),
      col("blk").as("bi"),
      explode(sequence(col("blk"), col("nblocks") - 1)).as("bj"),
      col("asset_id").as("asset_a")) ++
      ws.map(w => col(w).as(s"${w}_a")): _*)
    val b = blocked.select(Seq(col("band_id"), col("band_val"),
      explode(sequence(lit(0), col("blk"))).as("bi"), col("blk").as("bj"),
      col("asset_id").as("asset_b")) ++
      ws.map(w => col(w).as(s"${w}_b")): _*)
    val hamming = ws.map(w => expr(s"bit_count(${w}_a ^ ${w}_b)"))
      .reduce(_ + _)
    a.join(b, Seq("band_id", "band_val", "bi", "bj"))
      .filter(col("bi") < col("bj") || col("asset_a") < col("asset_b"))
      .select(
        least(col("asset_a"), col("asset_b")).as("asset_a"),
        greatest(col("asset_a"), col("asset_b")).as("asset_b"),
        hamming.cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // a pair can collide in several bands: one row per pair
      .groupBy("asset_a", "asset_b").agg(min(col("hamming")).as("hamming"))
  }

  /** The banded + block-salted fingerprint frame behind
    * [[fingerprintNearDup]]: one (band_id, band_val, nblocks, blk) row per
    * asset per band (8 bands of 32·n/8 bits over n 32-bit words),
    * nblocks = ⌈bucket size / bucketCap⌉. Package-visible so the
    * hot-bucket spec can pin the block geometry.
    */
  private[graft] def fingerprintBlocked(hashes: DataFrame,
      wordCols: Seq[String], bucketCap: Int): DataFrame = {
    val nw = wordCols.length
    require(nw == 2 || nw == 4, "fingerprint must be 2 or 4 32-bit words")
    val bandsPerWord = 8 / nw       // 4 sub-bands for 64-bit, 2 for 128-bit
    val bandBits = 32 / bandsPerWord // 8-bit bands for 64-bit, 16 for 128-bit
    val ws = wordCols.indices.map(j => s"w$j")
    // both join sides derive from `hashes`; without a boundary each side
    // would re-run the whole upstream decode. The hash frame is a few
    // longs per ASSET (not per pixel), so pinning it is always cheap.
    val pinned = hashes
      .select(col("asset_id") +: wordCols.zipWithIndex.map { case (c, j) =>
        col(c).as(s"w$j")
      }: _*)
      .localCheckpoint()
    val bandStructs = (for {
      j <- 0 until nw
      s <- 0 until bandsPerWord
    } yield {
      val id = j * bandsPerWord + s
      val shift = 1L << (bandBits * s)
      val mod = 1L << bandBits
      s"struct($id as band_id, (w$j div ${shift}L) % ${mod}L as band_val)"
    }).mkString("array(\n", ",\n", ")")
    val banded = pinned.select(
      Seq(col("asset_id")) ++ ws.map(col) :+
        explode(expr(bandStructs)).as("band"): _*)
      .select(Seq(col("asset_id")) ++ ws.map(col) ++ Seq(
        col("band.band_id").as("band_id"),
        col("band.band_val").as("band_val")): _*)
    // the per-bucket count aggregate has one row per NON-EMPTY bucket
    // (≤ 8·assets, typically ≪) joined back on the bucket key — AQE
    // broadcasts it when small (the blockAssignments discipline)
    val nblocks = banded.groupBy("band_id", "band_val")
      .agg(ceil(count(lit(1)) / lit(bucketCap.toDouble)).cast("int")
        .as("nblocks"))
    banded.join(nblocks, Seq("band_id", "band_val"))
      .withColumn("blk",
        pmod(xxhash64(col("asset_id")), col("nblocks")).cast("int"))
  }

  /** Audio energy-contour fingerprint (E222): the 1-D analog of
    * [[bmpDHash]] over the PCM16 decode — the asset's FIRST 65 windows'
    * exact energies Σv², one bit per adjacent-window comparison
    * (energy rising = 1), 64 bits as the same two sign-safe halves
    * (`fp_lo` = windows 0–31, `fp_hi` = 32–63). Re-encodes, small gain
    * changes that preserve the loud/quiet contour, and tail edits leave
    * the fingerprint within a few bits; [[fingerprintNearDup]] joins it
    * with the identical lossless band LSH the image path uses. Assets
    * shorter than 65 full windows are dropped (fingerprint undefined).
    *
    * Scale: the explode is FIXED at 65·windowSamples samples per asset —
    * a one-hour asset decodes only its prefix, so cost is corpus-linear
    * in ASSET COUNT, not duration. The energy aggregation map-side-
    * combines on (asset, window); the adjacent comparison is a lead()
    * window over exactly 65 rows per asset (partitioned by asset — no
    * skew, no global sort).
    */
  def audioFingerprint(assets: DataFrame, windowSamples: Int = 16): DataFrame = {
    require(windowSamples >= 1, "windowSamples must be positive")
    val need = 65L * windowSamples
    val u =
      conv(expr("substring(h, cast(4 * i + 1 as int), 2)"), 16, 10).cast("long") +
        lit(256L) * conv(expr("substring(h, cast(4 * i + 3 as int), 2)"), 16, 10)
          .cast("long")
    val v = when(u >= 32768L, u - 65536L).otherwise(u)
    val energies = assets
      // hex ONLY the bounded prefix the 65 windows read: hexing the whole
      // payload would make per-asset cost/memory scale with DURATION,
      // contradicting the corpus-linear scale note below (a one-hour
      // asset must decode just its prefix)
      .select(col("asset_id"),
        hex(substring(col("bytes"), 1, (2 * need).toInt)).as("h"),
        expr("octet_length(bytes) div 2").cast("long").as("ns"))
      .filter(col("ns") >= need)
      .select(col("asset_id"), col("h"),
        explode(sequence(lit(0L), lit(need - 1))).as("i"))
      .select(col("asset_id"), expr(s"i div $windowSamples").as("w"), v.as("v"))
      .groupBy("asset_id", "w")
      .agg(sum(col("v") * col("v")).cast("long").as("e"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("asset_id").orderBy("w")
    energies
      .withColumn("e_next", lead(col("e"), 1).over(win))
      .filter(col("w") < 64L)
      .select(col("asset_id"), col("w"),
        when(col("e_next") > col("e"),
          expr("shiftleft(cast(1 as bigint), cast(w % 32 as int))"))
          .otherwise(lit(0L)).as("bit"))
      .groupBy("asset_id")
      .agg(
        sum(when(col("w") < 32L, col("bit")).otherwise(0L)).as("fp_lo"),
        sum(when(col("w") >= 32L, col("bit")).otherwise(0L)).as("fp_hi"))
  }

  /** 128-bit audio energy-contour fingerprint (E230's audio side): the
    * [[audioFingerprint]] scheme widened to 129 prefix windows — 128
    * adjacent-window rising/falling bits as FOUR sign-safe 32-bit words
    * (f0 = windows 0-31 ... f3 = 96-127), so [[fingerprintNearDup]] bands
    * it as 8x16-bit keys and the near-dup join's bucket cardinality grows
    * with the corpus (see [[bmpDHash128]]'s width note). Assets shorter
    * than 129 full windows are dropped (fingerprint undefined).
    *
    * Scale notes are [[audioFingerprint]]'s verbatim: the explode is
    * FIXED at 129·windowSamples samples per asset (cost corpus-linear in
    * asset count, not duration), the energy aggregation map-side-combines
    * on (asset, window), and the adjacent comparison is a lead() window
    * over exactly 129 rows per asset.
    */
  def audioFingerprint128(assets: DataFrame, windowSamples: Int = 16): DataFrame = {
    require(windowSamples >= 1, "windowSamples must be positive")
    val need = 129L * windowSamples
    val u =
      conv(expr("substring(h, cast(4 * i + 1 as int), 2)"), 16, 10).cast("long") +
        lit(256L) * conv(expr("substring(h, cast(4 * i + 3 as int), 2)"), 16, 10)
          .cast("long")
    val v = when(u >= 32768L, u - 65536L).otherwise(u)
    val energies = assets
      // hex ONLY the bounded prefix the 129 windows read (the
      // audioFingerprint discipline: duration-independent per-asset cost)
      .select(col("asset_id"),
        hex(substring(col("bytes"), 1, (2 * need).toInt)).as("h"),
        expr("octet_length(bytes) div 2").cast("long").as("ns"))
      .filter(col("ns") >= need)
      .select(col("asset_id"), col("h"),
        explode(sequence(lit(0L), lit(need - 1))).as("i"))
      .select(col("asset_id"), expr(s"i div $windowSamples").as("w"), v.as("v"))
      .groupBy("asset_id", "w")
      .agg(sum(col("v") * col("v")).cast("long").as("e"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("asset_id").orderBy("w")
    energies
      .withColumn("e_next", lead(col("e"), 1).over(win))
      .filter(col("w") < 128L)
      .select(col("asset_id"), col("w"),
        when(col("e_next") > col("e"),
          expr("shiftleft(cast(1 as bigint), cast(w % 32 as int))"))
          .otherwise(lit(0L)).as("bit"))
      .groupBy("asset_id")
      .agg(
        sum(when(col("w") < 32L, col("bit")).otherwise(0L)).as("f0"),
        sum(when(col("w") >= 32L && col("w") < 64L, col("bit")).otherwise(0L))
          .as("f1"),
        sum(when(col("w") >= 64L && col("w") < 96L, col("bit")).otherwise(0L))
          .as("f2"),
        sum(when(col("w") >= 96L, col("bit")).otherwise(0L)).as("f3"))
  }

  // ------------------------------------------------------------------
  // REAL AUDIO CONTAINER: canonical RIFF/WAVE (PCM16). The third
  // arithmetic codec after PCM16 frames and BMP — here the container
  // itself is parsed (chunk ids, sizes, offsets are little-endian
  // integers at computable positions), and the located data chunk feeds
  // the same per-sample decode as pcmWindowEnergy. Handles the canonical
  // 44-byte layout plus ONE auxiliary chunk (LIST/fact/cue) between
  // "fmt " and "data" — the overwhelmingly common real-file shapes; a
  // longer chunk walk is the same arithmetic unrolled further.
  // ------------------------------------------------------------------

  /** Encode each asset's payload as a canonical 44-byte-header PCM16 WAV:
    * RIFF size, "WAVE", a 16-byte "fmt " chunk (PCM, `channels`,
    * `sampleRate`, 16-bit), then "data" with the payload's even-length
    * prefix as samples. Assets with fewer than 2 payload bytes are
    * dropped (no sample to carry). One codegen'd projection, no UDF.
    */
  def encodeWav(
      assets: DataFrame, channels: Int = 1, sampleRate: Int = 8000,
      fmt: Int = 1, extensible: Boolean = false): DataFrame = {
    require(channels >= 1 && sampleRate >= 1, "bad wav params")
    require(fmt == 1 || fmt == 6 || fmt == 7,
      "fmt must be 1 (PCM16), 6 (A-law), or 7 (mu-law)")
    require(!extensible || fmt == 1,
      "the extensible fixture wraps PCM16 (GUID subformat 1)")
    // G.711 wires carry one byte per sample; PCM16 carries two. The
    // payload is the data chunk verbatim (for 6/7 the bytes ARE the
    // companded samples — the decode side does the real expansion).
    val bytesPer = if (fmt == 1) 2 else 1
    val fmtSize = if (extensible) 40L else 16L
    val dlen = expr("(octet_length(bytes) div 2) * 2").cast("long")
    val hx = concat(
      lit("52494646"),                                  // "RIFF"
      le32(lit(20L + fmtSize) + dlen),                  // riff chunk size
      lit("57415645"),                                  // "WAVE"
      lit("666D7420"),                                  // "fmt "
      le32(lit(fmtSize)),                               // fmt chunk size
      le16(lit(if (extensible) 0xFFFEL else fmt.toLong)), // audio format
      le16(lit(channels.toLong)),                       // channels
      le32(lit(sampleRate.toLong)),                     // sample rate
      le32(lit(sampleRate.toLong * channels * bytesPer)), // byte rate
      le16(lit(channels.toLong * bytesPer)),            // block align
      le16(lit(8L * bytesPer)),                         // bits per sample
      if (extensible) concat(
        // WAVE_FORMAT_EXTENSIBLE (E298): cbSize 22, valid bits,
        // channel mask, and the public KSDATAFORMAT_SUBTYPE_PCM GUID
        le16(lit(22L)),                                 // cbSize
        le16(lit(16L)),                                 // valid bits
        le32(lit(if (channels == 2) 3L else 4L)),       // channel mask
        lit("0100000000001000800000AA00389B71"))        // PCM GUID
      else lit(""),
      lit("64617461"),                                  // "data"
      le32(dlen),                                       // data size
      expr("substring(hex(bytes), 1, cast(2 * ((octet_length(bytes) div 2) * 2) as int))"))
    assets.filter(dlen >= 2L).withColumn("bytes", unhex(hx))
  }

  /** RIFF/WAVE header parse shared by the WAV surfaces: format fields,
    * located data-chunk offset/length, and `is_valid`. Byte reads follow
    * the bmpHeader discipline (hex of 1–4-byte binary slices, never one
    * shared hex-of-payload alias). The data chunk is accepted at the
    * canonical offset 36 or, if an auxiliary chunk sits there, at
    * `36 + 8 + aux_size` — the one-skip walk.
    */
  private def wavHeader(assets: DataFrame): DataFrame = {
    // offset expressions are SQL fragments (offsets depend on parsed
    // columns); every field is ONE 2- or 4-byte binary slice hexed alone,
    // byte-swapped in string space, and converted with a single conv —
    // per-byte conv chains made the fused parse stage outgrow Janino's
    // 64 KB method budget
    def tag(o: String) = s"hex(substring(bytes, cast(($o) + 1 as int), 4))"
    def u16c(o: String) = {
      val hx = s"hex(substring(bytes, cast(($o) + 1 as int), 2))"
      s"CAST(conv(substr($hx, 3, 2) || substr($hx, 1, 2), 16, 10) AS BIGINT)"
    }
    def u32c(o: String) = {
      val hx = tag(o)
      s"CAST(conv(substr($hx, 7, 2) || substr($hx, 5, 2) || " +
        s"substr($hx, 3, 2) || substr($hx, 1, 2), 16, 10) AS BIGINT)"
    }
    assets
      .select(col("asset_id"), col("bytes"),
        octet_length(col("bytes")).cast("long").as("n"),
        expr(s"${tag("0")} = '52494646' AND ${tag("8")} = '57415645' AND " +
          s"${tag("12")} = '666D7420'").as("magic_ok"),
        expr(u32c("16")).as("fmt_size"), expr(u16c("20")).as("audio_fmt"),
        expr(u16c("22")).as("channels"), expr(u32c("24")).as("sample_rate"),
        expr(u16c("34")).as("bits"),
        // WAVE_FORMAT_EXTENSIBLE (E298): cbSize at 36, the GUID's
        // leading format code at 44 — only read when fmt_size = 40
        expr(u16c("36")).as("cb_size"), expr(u16c("44")).as("sub_fmt"))
      // data chunk: canonical position right after fmt, or one aux chunk
      // later; chunk sizes pad to even length per RIFF
      .withColumn("__c1", expr("20 + ((fmt_size + 1) div 2) * 2"))
      .withColumn("__c2",
        expr(s"__c1 + 8 + ((${u32c("__c1 + 4")} + 1) div 2) * 2"))
      .withColumn("data_off",
        when(expr(s"${tag("__c1")} = '64617461'"), col("__c1") + 8L)
          .when(col("__c1") + 8L <= col("n") &&
            expr(s"${tag("__c2")} = '64617461'"), col("__c2") + 8L))
      .withColumn("data_len",
        when(col("data_off").isNotNull, expr(u32c("data_off - 4"))))
      .withColumn("is_valid",
        col("n") >= 44L && col("magic_ok") &&
          ((col("audio_fmt") === 1L && col("bits") === 16L) ||
            // G.711 (E283): format 6 = A-law, 7 = mu-law, 8-bit samples
            ((col("audio_fmt") === 6L || col("audio_fmt") === 7L) &&
              col("bits") === 8L) ||
            // WAVE_FORMAT_EXTENSIBLE (E298): the modern header real
            // writers emit for multichannel/high-res PCM — fmt 0xFFFE
            // with a 40-byte fmt chunk, cbSize 22, and the PCM GUID's
            // leading code; rejecting it false-invalidates real lakes
            (col("audio_fmt") === 65534L && col("bits") === 16L &&
              col("fmt_size") === 40L &&
              // cb/sub reads land past EOF on short canonical files —
              // coalesce so a missing extension is FALSE, never null
              coalesce(col("cb_size") === 22L, lit(false)) &&
              coalesce(col("sub_fmt") === 1L, lit(false)))) &&
          col("channels") >= 1L &&
          col("sample_rate") >= 1L && col("data_off").isNotNull &&
          col("n") >= col("data_off") + col("data_len"))
  }

  /** G.711 expansion stats (E283) — the telephony wire (WAVE formats 6
    * A-law / 7 µ-law, one companded byte per sample) decoded to linear
    * PCM by the PUBLIC ITU-T G.711 segment formulas and aggregated per
    * asset. The FORMAT FIELD drives the expansion (one surface, both
    * laws — what a real reader does); every step is integer CASE
    * arithmetic (codegen'd, no UDF, and exactly replayable in oracle
    * SQL — shifts become power-of-two multiply tables, ~x becomes
    * 255 − x). PCM16 assets surface here as is_valid with law 1 and no
    * sample rows; truncated data chunks are already invalid upstream.
    *
    * Scale: same shape as [[wavWindowEnergy]] — one container parse per
    * asset, one explode of sample indices, map-side-combined aggregate.
    */
  def g711Stats(assets: DataFrame): DataFrame = {
    val u = conv(
      hex(expr("substring(bytes, cast(data_off + i + 1 as int), 1)")), 16, 10)
      .cast("long")
    wavHeader(assets)
      .filter(col("is_valid") && col("audio_fmt").isin(6L, 7L))
      .select(col("asset_id"), col("bytes"), col("audio_fmt"),
        col("data_off"), col("data_len"))
      // container walk / sample walk boundary (the q241/Janino lesson)
      .localCheckpoint()
      .filter(col("data_len") >= 1L)
      .select(col("asset_id"), col("bytes"), col("audio_fmt"),
        col("data_off"),
        explode(expr("sequence(0L, data_len - 1)")).as("i"))
      .withColumn("__u", u)
      // mu-law, per the reference ulaw2linear: complement (255 - u),
      // magnitude ((mant·8) + 132) · 2^exp, bias 132, sign from bit 7 of
      // the complemented byte; shifts are power-of-two CASE tables so
      // the same arithmetic replays verbatim in oracle SQL
      .withColumn("__c", lit(255L) - col("__u"))
      .withColumn("__m7", expr(
        "CASE ((__c div 16) % 8) WHEN 0 THEN 1 WHEN 1 THEN 2 " +
          "WHEN 2 THEN 4 WHEN 3 THEN 8 WHEN 4 THEN 16 WHEN 5 THEN 32 " +
          "WHEN 6 THEN 64 ELSE 128 END"))
      // A-law, per the reference alaw2linear: xor 0x55, segment CASE,
      // sign bit SET means positive
      .withColumn("__a", expr("CAST(CAST(__u AS INT) ^ 85 AS BIGINT)"))
      .withColumn("__t6", expr(
        "CASE ((__a div 16) % 8) WHEN 0 THEN (__a % 16) * 16 + 8 " +
          "WHEN 1 THEN (__a % 16) * 16 + 264 " +
          "ELSE ((__a % 16) * 16 + 264) * " +
          "(CASE ((__a div 16) % 8) WHEN 2 THEN 2 WHEN 3 THEN 4 " +
          "WHEN 4 THEN 8 WHEN 5 THEN 16 WHEN 6 THEN 32 ELSE 64 END) END"))
      .withColumn("s", expr(
        "CASE WHEN audio_fmt = 7 THEN " +
          "(CASE WHEN __c >= 128 THEN 132 - ((__c % 16) * 8 + 132) * __m7 " +
          "ELSE ((__c % 16) * 8 + 132) * __m7 - 132 END) " +
          "ELSE (CASE WHEN __a div 128 = 1 THEN __t6 ELSE -__t6 END) END"))
      .groupBy(col("asset_id"), col("audio_fmt").as("law"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("s")).as("sum_s"),
        sum(abs(col("s"))).as("sum_abs"))
      .select(col("asset_id"), col("law"), col("n_samples"),
        col("sum_s"), col("sum_abs"))
  }

  /** Encode each asset's payload as an ICO (E297) of square
    * `width`×`width` members — PNG and classic-DIB alternating, the
    * favicon container's two real member shapes.
    */
  def encodeIco(assets: DataFrame, width: Int = 8): DataFrame = {
    // mirror the codec's own require, or a legal-looking width fails
    // per row inside the executor instead of here
    require(width >= 4 && width <= 255 && width % 4 == 0,
      "width must be 4-aligned and fit the u8 entry field")
    assets
      .filter(octet_length(col("bytes")) >= width * width &&
        octet_length(col("bytes")) <=
          graft.functions.IcoCodec.MaxPixels.toLong)
      .withColumn("bytes",
        graft.functions.IcoNativeFunctions.icoEncode(col("bytes"), width))
  }

  /** Decode ICO assets natively (E297): the cross-format container —
    * strict directory walk with exact member tiling, per-member
    * dispatch to the full PNG decoder or the classic doubled-height
    * DIB walk, entry-vs-content geometry audits, stacked-screen row
    * weighting (member order + the DIB flip), and the AND mask counted
    * as coverage that never reaches the channel sums.
    */
  def icoStats(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.IcoNativeFunctions.icoDecode(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.n_images").as("n_images"), col("q.n_png").as("n_png"),
        col("q.n_dib").as("n_dib"), col("q.n_pixels").as("n_pixels"),
        col("q.sum_r").as("sum_r"), col("q.sum_g").as("sum_g"),
        col("q.sum_b").as("sum_b"), col("q.sum_rowv").as("sum_rowv"),
        col("q.n_transparent").as("n_transparent"))
  }

  /** Encode each asset's payload as a big-endian PCM16 AIFF (E294) —
    * whole frames only; assets shorter than one frame are dropped.
    */
  def encodeAiff(assets: DataFrame, channels: Int = 1): DataFrame = {
    require(channels == 1 || channels == 2, "channels must be 1 or 2")
    assets
      .filter(octet_length(col("bytes")) >= 2 * channels)
      .withColumn("bytes",
        graft.functions.AiffNativeFunctions.aiffEncode(col("bytes"), channels))
  }

  /** Decode AIFF assets natively (E294): the big-endian container
    * family — strict FORM/COMM/SSND walk, the 80-bit extended
    * sample-rate decode, unknown chunks skipped per EA IFF 85, and
    * BIG-endian sample sums (the same payload bytes mean different
    * samples than in WAV — the point of the family split, and what the
    * oracle replays).
    */
  def aiffStats(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"),
        graft.functions.AiffNativeFunctions.aiffDecode(col("bytes")).as("q"))
      .select(col("asset_id"), col("q.is_valid").as("is_valid"),
        col("q.n_channels").as("n_channels"),
        col("q.sample_rate").as("sample_rate"),
        col("q.n_frames").as("n_frames"), col("q.sum_s").as("sum_s"),
        col("q.sum_abs").as("sum_abs"), col("q.sum_if").as("sum_if"),
        col("q.sum_l").as("sum_l"), col("q.sum_r").as("sum_r"))
  }

  /** STEREO WAV channel split (E293) — the most common real audio wire
    * is 2-channel interleaved PCM16, and every mono surface so far
    * would silently mix the channels: this one walks whole FRAMES
    * (block-align pairs), reads left/right as separate little-endian
    * samples, and reports per-channel sums plus the frame-weighted
    * total that pins interleave ORDER (an L/R swap flips sum_l/sum_r;
    * a frame misalignment moves sum_if). Trailing bytes short of a
    * whole frame are ignored, per the block-align contract.
    *
    * Scale: the [[g711Stats]] shape — one header parse per asset, one
    * frame-index explode, map-side-combined aggregate, all codegen'd.
    */
  def wavChannelStats(assets: DataFrame): DataFrame = {
    def s16(off: String) = {
      val hx = s"hex(substring(bytes, cast(($off) + 1 as int), 2))"
      val u = s"CAST(conv(substr($hx, 3, 2) || substr($hx, 1, 2), 16, 10)" +
        s" AS BIGINT)"
      s"CASE WHEN $u >= 32768 THEN $u - 65536 ELSE $u END"
    }
    wavHeader(assets)
      .filter(col("is_valid") &&
        (col("audio_fmt") === 1L || col("audio_fmt") === 65534L) &&
        col("channels") === 2L)
      .select(col("asset_id"), col("bytes"), col("data_off"),
        expr("data_len div 4").as("n_frames"))
      // container walk / sample walk boundary (the q241/Janino lesson)
      .localCheckpoint()
      .filter(col("n_frames") >= 1L)
      .select(col("asset_id"), col("bytes"), col("data_off"),
        col("n_frames"),
        explode(expr("sequence(0L, n_frames - 1)")).as("f"))
      .withColumn("l", expr(s16("data_off + 4 * f")))
      .withColumn("r", expr(s16("data_off + 4 * f + 2")))
      .groupBy(col("asset_id"), col("n_frames"))
      .agg(sum(col("l")).as("sum_l"), sum(col("r")).as("sum_r"),
        sum(abs(col("l"))).as("sum_abs_l"),
        sum(abs(col("r"))).as("sum_abs_r"),
        sum(col("f") * (col("l") + col("r"))).as("sum_if"))
      .select(col("asset_id"), col("n_frames"), col("sum_l"),
        col("sum_r"), col("sum_abs_l"), col("sum_abs_r"), col("sum_if"))
  }

  /** Decode WAV containers natively (E213): RIFF magic + "fmt " parse,
    * data-chunk location (canonical or one-aux-chunk-skip), and per-asset
    * audio facts — channels, sample rate, exact frame count (data bytes ÷
    * block align), and integer milliseconds of audio. Non-PCM16, corrupt,
    * or overrunning containers report `is_valid = false` with null fields
    * — a bad asset is a visible finding, not a dropped row.
    *
    * Scale: map-only projection over the header bytes (no sample is
    * touched); all arithmetic codegen'd, oracle-replayable.
    */
  def wavStats(assets: DataFrame): DataFrame =
    wavHeader(assets).select(
      col("asset_id"), col("is_valid"),
      when(col("is_valid"), col("channels")).as("channels"),
      when(col("is_valid"), col("sample_rate")).as("sample_rate"),
      when(col("is_valid"),
        expr("data_len div (channels * (bits div 8))")).as("n_frames"),
      when(col("is_valid"),
        expr("((data_len div (channels * (bits div 8))) * 1000) " +
          "div sample_rate"))
        .as("duration_ms"))

  /** Windowed Σv² energy over a WAV's located data chunk (E213) — the
    * [[pcmWindowEnergy]] walk driven by the container parse: sample i
    * reads the 2 bytes at `data_off + 2i`, windows are `windowSamples`
    * frames. Invalid containers contribute no windows ([[wavStats]] is
    * where they surface).
    *
    * Scale: one explode of sample indices per valid asset; every byte
    * access is codegen'd hex arithmetic on a 2-byte slice — the whole
    * pipeline (container walk + decode + window aggregation) is one scan,
    * no UDF, map-side combined.
    */
  def wavWindowEnergy(assets: DataFrame, windowSamples: Int = 16): DataFrame = {
    require(windowSamples >= 1, "windowSamples must be positive")
    val u =
      conv(hex(expr("substring(bytes, cast(data_off + 2 * i + 1 as int), 1)")), 16, 10)
        .cast("long") +
        lit(256L) * conv(
          hex(expr("substring(bytes, cast(data_off + 2 * i + 2 as int), 1)")), 16, 10)
          .cast("long")
    val v = when(u >= 32768L, u - 65536L).otherwise(u)
    wavHeader(assets)
      .select(col("asset_id"), col("bytes"), col("is_valid"), col("data_off"),
        expr("data_len div 2").as("ns"))
      // hard boundary between container walk and sample walk BEFORE the
      // validity filter: a filter on is_valid would push down through the
      // parse projections, substituting the whole dynamic chunk-walk tree
      // into one giant predicate and blowing the fused stage past
      // Janino's 64 KB method limit into interpreted fallback (the q241
      // lesson — the parse runs once per asset, the walk once per sample)
      .localCheckpoint()
      // ns > 0 also guards sequence(0, -1), which would DESCEND, not be empty
      .filter(col("is_valid") && col("ns") > 0)
      .select(col("asset_id"), col("bytes"), col("data_off"),
        explode(sequence(lit(0L), col("ns") - 1)).as("i"))
      .select(col("asset_id"), expr(s"i div $windowSamples").as("window_idx"),
        v.as("v"))
      .groupBy("asset_id", "window_idx")
      .agg(count(lit(1)).as("n_samples"),
        sum(col("v") * col("v")).cast("long").as("energy"))
  }

  // ------------------------------------------------------------------
  // REAL VIDEO CONTAINER: Y4M (YUV4MPEG2, the public uncompressed video
  // interchange format). ASCII header ("YUV4MPEG2", space-separated
  // W/H/F/C parameters, newline), then per frame a "FRAME\n" marker and
  // a raw plane dump — mono (Cmono) or 4:2:0 (C420: luma plane then two
  // quarter chroma planes). Header parse and frame walk are both native
  // single-pass expressions (functions/MediaExpressions) — this closes
  // the modality triad: images (BMP/PPM/QOI), audio (PCM/WAV), and video
  // all decode for real in-engine.
  // ------------------------------------------------------------------

  /** Encode each asset's payload bytes as a valid mono Y4M of the given
    * frame geometry: the canonical header, then `n = ⌊len/(w·h)⌋` frames,
    * each a "FRAME\n" marker plus `w·h` payload bytes as the luma plane
    * (assets shorter than one frame are dropped). The per-frame markers
    * interleave via an engine-side `transform` + `array_join` over the
    * frame index sequence — one projection, no UDF, no driver loop.
    * This is the FIXTURE/egress side (string building is O(frames·len)
    * per asset); the 100 TB ingest path is [[y4mFrameLuma]]'s decode.
    */
  def encodeY4m(assets: DataFrame, width: Int = 6, height: Int = 4): DataFrame = {
    require(width >= 1 && height >= 1, "bad frame geometry")
    val fs = width * height
    val headerHex = hexOfAscii(s"YUV4MPEG2 W$width H$height F25:1 Ip A1:1 Cmono\n")
    val frameMarkerHex = hexOfAscii("FRAME\n")
    assets
      .filter(octet_length(col("bytes")) >= fs)
      .withColumn("bytes", unhex(concat(
        lit(headerHex),
        expr(
          s"""array_join(transform(
             |  sequence(0, octet_length(bytes) div $fs - 1),
             |  f -> concat('$frameMarkerHex',
             |              substring(hex(bytes), cast(f * ${2 * fs} + 1 as int),
             |                        ${2 * fs}))), '')""".stripMargin))))
  }

  private def hexOfAscii(s: String): String =
    s.getBytes("US-ASCII").map(b => f"$b%02X").mkString

  /** Y4M header parse — ONE native single-pass expression per asset
    * ([[graft.functions.MediaWalks.y4mHeader]]): magic, the parameter
    * region up to the first newline (bounded at 256 bytes — a longer
    * header reports is_valid = false: visible, not wrong), W/H decimal
    * runs, the colorspace tag (no tag defaults to 420 per the public
    * spec), and the frame-data offset. Emits (asset_id, bytes, n, w, hgt,
    * fsize, poff, n_frames, is_valid) where `fsize` is the per-frame
    * PLANE byte count: w·h for mono, w·h + 2·⌈w/2⌉·⌈h/2⌉ for C420 (luma
    * first either way). Containers that are not mono/420, have no
    * parseable geometry, or whose byte length is not exactly
    * header + n·(6 + fsize) for n ≥ 1 report is_valid = false — and the
    * length check bounds the frame walk by the asset's real bytes, so a
    * forged header cannot blow up the plan.
    *
    * Why native and not the former hex-space regex parse: the extracted
    * param columns fed every downstream field, so once a consumer's
    * filter pushed through the parse, projection collapse substituted
    * the regex trees into every reference — 266 compiled Patterns in one
    * fused stage, past Janino's 64 KB limit, into interpreted fallback.
    * One scalar parse per asset cannot be duplicated that way (the
    * struct-field extracts share the single cheap call via codegen
    * subexpression elimination), and the JVM pass reads O(256) header
    * bytes, never the payload.
    */
  private def y4mHeader(assets: DataFrame): DataFrame = {
    assets
      .select(col("asset_id"), col("bytes"),
        octet_length(col("bytes")).cast("long").as("n"),
        graft.functions.MediaNativeFunctions.y4mHeaderParse(col("bytes"))
          .as("__h"))
      .select(col("asset_id"), col("bytes"), col("n"),
        col("__h.w").as("w"), col("__h.hgt").as("hgt"),
        col("__h.fsize").as("fsize"), col("__h.poff").as("poff"),
        col("__h.n_frames").as("n_frames"),
        col("__h.is_valid").as("is_valid"))
  }

  /** Per-frame luma report through the real Y4M parse (E224): one row per
    * frame, ANY parseable geometry — the exact luma-plane byte sum, the
    * fixed-point mean, and the frame's own "FRAME\n" marker verification
    * (`marker_ok`): a container whose header parses but whose stream
    * desyncs surfaces per frame, not as a silent wrong number. Assets
    * that don't parse at all surface as ONE `is_valid = false` row with
    * null stats (the bmpStats discipline: a corrupt asset is a visible
    * finding, never a dropped row).
    *
    * Variable-stride coverage: spec-legal "FRAME <params>\n" frames (per-
    * frame parameters, so no arithmetic layout exists) decode too — when
    * the exact fixed-stride length check fails, the native walk scans the
    * marker lines sequentially and accepts iff the whole tail parses as
    * frames ([[graft.functions.MediaWalks.y4mFrames]]); fixed-stride
    * acceptance stays marker-AGNOSTIC so a desynced-but-length-consistent
    * stream still surfaces per frame as marker_ok = false, never as a
    * dropped asset.
    *
    * Scale: ONE native pass per asset
    * ([[graft.functions.MediaWalks.y4mFrames]]) emitting the n_frames
    * (marker_ok, sum_y) struct array — strictly smaller than the asset's
    * own bytes, so nothing per-pixel (or even per-row) ever materializes,
    * and no pixel mass crosses a shuffle (the exploded predecessor's
    * 3-level frame/row/column walk outgrew Janino's 64 KB limit into
    * interpreted fallback); the posexplode is per FRAME, the asset's
    * natural output granularity.
    */
  def y4mFrameLuma(assets: DataFrame): DataFrame = {
    y4mHeader(assets)
      .select(col("asset_id"), col("is_valid"),
        when(col("is_valid"), col("w")).as("w"),
        when(col("is_valid"), col("hgt")).as("hgt"),
        // invalid assets skip the walk entirely (null array) and surface
        // below as a single null-stats row via the OUTER posexplode
        when(col("is_valid"),
          graft.functions.MediaNativeFunctions.y4mFrameWalk(col("bytes"), col("poff"),
            col("fsize"), col("w"), col("hgt"), col("n_frames"))).as("frames"))
      .select(col("asset_id"), col("is_valid"), col("w"), col("hgt"),
        posexplode_outer(col("frames")).as(Seq("f", "fr")))
      .select(col("asset_id"), col("is_valid"),
        col("f").cast("long").as("frame_idx"),
        col("fr.marker_ok").as("marker_ok"), col("fr.sum_y").as("sum_y"),
        when(col("is_valid"), expr("(fr.sum_y * 1000) div (w * hgt)"))
          .as("mean_y_milli"))
  }

  /** Scene-cut detection through the container (E225): adjacent-frame
    * mean-luma deltas per asset, cuts where |Δ| ≥ `thresholdMilli` — the
    * classic hard-cut detector every video curation pipeline runs before
    * sampling training frames. The lag comparison is a per-asset window
    * over the per-frame aggregate (n_frames rows per asset, never
    * pixels), exactly the audioFingerprint discipline.
    *
    * A cut is only reported when BOTH frames of the pair verified their
    * "FRAME\n" marker — a desynced stream must not manufacture cuts from
    * garbage sums (the luma report is where the desync itself surfaces).
    */
  def y4mSceneCuts(assets: DataFrame, thresholdMilli: Long = 5000L): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("asset_id").orderBy("frame_idx")
    y4mFrameLuma(assets)
      .filter(col("is_valid"))
      .withColumn("__prev", lag(col("mean_y_milli"), 1).over(win))
      .withColumn("__prev_ok", lag(col("marker_ok"), 1).over(win))
      .filter(col("__prev").isNotNull && col("marker_ok") && col("__prev_ok"))
      .withColumn("delta_milli", abs(col("mean_y_milli") - col("__prev")))
      .filter(col("delta_milli") >= thresholdMilli)
      .select(col("asset_id"), col("frame_idx"), col("delta_milli"))
  }

  /** Partition-wise batched decode seam: groups each partition's assets into
    * fixed-size batches (the mapInPandas batch shape) and applies a
    * batch-level decode function. The default `decodeBatch` is the stub; a
    * real codec plugs in here with vectorized I/O amortized per batch.
    */
  def decodeInBatches(
      assets: DataFrame,
      batchSize: Int = 64,
      decodeBatch: Seq[Array[Byte]] => Seq[(Int, Int)] = stubBatchDecoder): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    val out = assets
      .select(col("asset_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val feats = decodeBatch(batch.map(_._2))
          batch.zip(feats).map { case ((id, _), (w, h)) => (id, w, h) }
        }
      }
    out.toDF("asset_id", "width", "height")
  }

  /** STUB batch decoder: dimension pseudo-features from the digest (matches
    * fakeDecodedFeatures' formula; a real decoder would parse the payload).
    */
  def stubBatchDecoder(batch: Seq[Array[Byte]]): Seq[(Int, Int)] =
    batch.map { bytes =>
      val hex = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
      val w = (java.lang.Long.parseLong(hex.substring(0, 4), 16) % 1920 + 1).toInt
      val h = (java.lang.Long.parseLong(hex.substring(4, 8), 16) % 1080 + 1).toInt
      (w, h)
    }
}
