package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode and near-dup hash stages.
  *
  * IMAGE and AUDIO codecs are REAL: `javax.imageio` ships
  * PNG/BMP/JPEG/GIF readers and `javax.sound.sampled` ships
  * WAV/AIFF/AU PCM parsing in every JRE, so [[decodeImage]] /
  * [[imageHashes]] / [[imageNearDupPairs]] and [[decodeAudio]] /
  * [[audioHashes]] / [[audioNearDupPairs]] decode actual payload
  * bytes via native Catalyst expressions ([[graft.functions.ImageCore]]
  * / [[graft.functions.AudioCore]]) — no external libraries, no UDF
  * closures. VIDEO (and compressed audio like MP3/AAC) has no
  * decoder: the JDK has no such codecs and the build adds none.
  * [[decodeImageStub]] derives deterministic fake metadata from the
  * bytes (swapping it for a real decoder is a drop-in replacement of
  * one column expression); it remains for fixtures whose
  * payloads are NOT image bytes (the parquet fixtures are text-
  * derived) — the real paths return null metadata for those by
  * design.
  *
  * Scale: assets are heavy rows. The two rules this module encodes:
  * (1) never shuffle payload bytes unless the operator needs them
  * (metadata-only projections prune the binary column at the scan;
  * near-dup candidates ride ids+hashes only);
  * (2) size partitions by BYTES not row count — [[repartitionByBytes]].
  */
object Multimodal {

  /** REAL image decode: (width, height, channels) parsed from the
    * payload bytes by the JDK's codecs. Undecodable payloads yield
    * null metadata — corrupt rows are data to quarantine
    * (`width IS NULL`), never a failed 100 TB stage. */
  def decodeImage(assets: DataFrame): DataFrame = {
    graft.functions.ImageMeta.register(assets.sparkSession)
    assets
      .withColumn("_m", expr("image_meta(payload)"))
      .withColumn("width", col("_m.width"))
      .withColumn("height", col("_m.height"))
      .withColumn("channels", col("_m.channels"))
      .drop("_m")
  }

  /** REAL audio decode: (sample_rate, channels, frames, bits) parsed
    * from WAV/AIFF/AU payload bytes by the JDK's PCM codecs. Same
    * quarantine contract as [[decodeImage]]: undecodable (or
    * compressed-format) payloads yield null metadata, never a failed
    * stage. */
  def decodeAudio(assets: DataFrame): DataFrame = {
    graft.functions.AudioMeta.register(assets.sparkSession)
    assets
      .withColumn("_a", expr("audio_meta(payload)"))
      .withColumn("sample_rate", col("_a.sample_rate"))
      .withColumn("channels", col("_a.channels"))
      .withColumn("frames", col("_a.frames"))
      .withColumn("bits", col("_a.bits"))
      .drop("_a")
  }

  /** Acoustic fingerprint per asset: the 64-bit energy-gradient hash
    * (sign of the delta between consecutive of 65 window energies
    * over the mono mixdown) — volume-scaling-invariant by
    * construction, the audio analogue of [[imageHashes]]' dHash.
    * Null for undecodable payloads. */
  def audioHashes(assets: DataFrame): DataFrame = {
    graft.functions.EHash64.register(assets.sparkSession)
    assets.withColumn("ehash", expr("ehash64(payload)"))
  }

  /** Audio near-dup pairs: hamming over the energy-gradient hashes,
    * found by the same slice-key machinery as the image path —
    * [[hashNearDupPairs]] is hash-agnostic, so the banding, the
    * keyBands corpus-size dial, and the pigeonhole recall proof carry
    * over verbatim. */
  def audioNearDupPairs(assets: DataFrame, maxHamming: Int = 3,
                        bands: Int = 4, keyBands: Int = 1): DataFrame =
    hashNearDupPairs(
      audioHashes(assets).filter(col("ehash").isNotNull)
        .select(col("asset_id"), col("ehash").as("ahash")),
      maxHamming, bands, keyBands)

  /** Perceptual hashes per asset: 64-bit aHash (8×8 block-mean
    * threshold) and dHash (9×8 horizontal gradient signs) — the image
    * analogue of the text SimHash: near-identical images (recompress,
    * slight crop/brightness) land within a few bits. Null for
    * undecodable payloads. */
  def imageHashes(assets: DataFrame): DataFrame = {
    graft.functions.AHash64.register(assets.sparkSession)
    graft.functions.DHash64.register(assets.sparkSession)
    assets
      .withColumn("ahash", expr("ahash64(payload)"))
      .withColumn("dhash", expr("dhash64(payload)"))
  }

  /** Image near-dup pairs: aHash hamming distance ≤ `maxHamming`,
    * found via the SimHash sign-band machinery — the 64-bit hash
    * splits into `bands` equal bit-slices and two images meet ONLY
    * inside an equal (band, slice) bucket. Pigeonhole makes the
    * recall exact, not approximate: with `bands` > `maxHamming`, any
    * pair within the hamming budget agrees on at least one full band
    * (≤ maxHamming flipped bits cannot touch all bands), so every
    * qualifying pair is generated — never an O(n²) comparison, and
    * payload bytes never ride the candidate shuffle (ids + hashes
    * only; decode happens once in [[imageHashes]]).
    *
    * bands=4 (16-bit slices) covers maxHamming ≤ 3 with a 2⁻¹⁶
    * random-collision rate per band; raise bands for a looser budget
    * (the require guards the recall proof). */
  def imageNearDupPairs(assets: DataFrame, maxHamming: Int = 3,
                        bands: Int = 4, keyBands: Int = 1): DataFrame =
    hashNearDupPairs(
      imageHashes(assets).filter(col("ahash").isNotNull)
        .select(col("asset_id"), col("ahash")),
      maxHamming, bands, keyBands)

  /** The hash-level core of [[imageNearDupPairs]], usable on ANY
    * (asset_id, ahash) frame however the 64-bit hashes were produced
    * (decoded payloads, precomputed pixel grids, an external feature
    * store): sign-band bucketing, candidate pairs only inside equal
    * bucket keys, exact-recall pigeonhole per the caller's
    * `bands - maxHamming >= keyBands` guarantee.
    *
    * `keyBands` is the corpus-size dial (the SRP-bits stance applied
    * to hamming buckets): a bucket key concatenates `keyBands` of the
    * `bands` slices. With single-slice keys the key space is only
    * 2^(64/bands) per band — at 8-bit slices, random collisions put
    * ~n/256 docs in every bucket, and candidate volume goes QUADRATIC
    * once n >> 2⁸ (measured: 10× docs → 21× time at 50k docs).
    * keyBands=2 keys on slice PAIRS — C(bands,2) keys/doc, 2× the
    * slice width per key — dropping occupancy to ~n/2^(2·width).
    * Recall stays exact by pigeonhole: ≤ maxHamming flipped bits
    * leave ≥ bands − maxHamming ≥ keyBands slices intact, and every
    * keyBands-subset of slices is a key, so an intact key exists for
    * every qualifying pair. */
  def hashNearDupPairs(hashed: DataFrame, maxHamming: Int = 3,
                       bands: Int = 4, keyBands: Int = 1): DataFrame = {
    require(64 % bands == 0 && keyBands >= 1 &&
      bands - maxHamming >= keyBands,
      s"need 64 % bands == 0 and bands - maxHamming >= keyBands >= 1 for " +
        s"exact recall; got bands=$bands maxHamming=$maxHamming keyBands=$keyBands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    def slice(b: Int) =
      shiftrightunsigned(col("ahash"), b * width).bitwiseAND(lit(mask))
    val combos = (0 until bands).combinations(keyBands).toSeq
    val banded = hashed
      .select(col("asset_id"), col("ahash"),
        posexplode(array(combos.map { c =>
          array(c.map(slice): _*)
        }: _*)).as(Seq("key_id", "key_val")))
    PairPack.pairsFromPostings(banded, Seq("key_id", "key_val"), "asset_id")
      .select(col("a.asset_id").as("id1"), col("b.asset_id").as("id2"),
        col("a.ahash").as("h1"), col("b.ahash").as("h2"))
      .dropDuplicates("id1", "id2")
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** Streaming perceptual image dedup — the continuous-ingest leg of
    * the asset pipeline ([[graft.operators.Dedup.streamingDeltaDedup]]'s
    * stance with the content hash swapped for the PERCEPTUAL hash):
    * assets arriving on a stream are kept only if their aHash is
    * absent from the static corpus index AND unseen within the
    * watermark horizon. Hash equality (hamming 0) catches exactly
    * what exact byte/md5 dedup structurally cannot — the same pixels
    * re-encoded through a different container (PNG↔BMP) or
    * re-compressed bytes — while banded NEAR-dup (hamming > 0) stays
    * a batch concern, like near-dup text in the delta path.
    *
    * State is bounded by the watermark (`dropDuplicatesWithinWatermark`
    * keys on the 8-byte hash, never payload bytes); the corpus side
    * is an ids-free distinct hash frame, re-read per micro-batch as a
    * stream-static anti-join. Undecodable payloads pass through the
    * quarantine contract upstream (`ahash IS NULL` rows are dropped
    * here — route them to a dead-letter sink before this operator if
    * they must be kept). */
  def streamingImageDedup(stream: DataFrame, corpus: DataFrame,
                          tsCol: String = "ts",
                          watermark: String = "1 hour"): DataFrame = {
    val corpusHashes = imageHashes(corpus)
      .filter(col("ahash").isNotNull).select("ahash").distinct()
    imageHashes(stream)
      .filter(col("ahash").isNotNull)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("ahash")
      .join(corpusHashes, Seq("ahash"), "left_anti")
      .drop("ahash", "dhash")
  }

  /** Magic-byte media-type sniffing + routing: every asset labeled by
    * its container signature ([[graft.functions.MediaTypeCore]] — a
    * ≤ 12-byte prefix inspection, constant-time whatever the payload
    * size) and bucketed into the decoder route a multimodal ingest
    * fans out on: `image` (JDK-decodable), `audio` (JDK-decodable
    * PCM), `undecodable` (real media the JDK has no codec for —
    * video, compressed audio — quarantined as assets, not errors),
    * `archive`, or `unknown`. Runs BEFORE any decode, so payloads
    * never reach a decoder that would null them out; at 100 TB the
    * difference between this and decode-and-see is one cheap scan vs
    * a full decode attempt per wrong-type row. */
  def routeByType(assets: DataFrame): DataFrame = {
    graft.functions.MediaType.register(assets.sparkSession)
    assets
      .withColumn("media_type", expr("media_type(payload)"))
      .withColumn("route",
        when(col("media_type").isin("png", "jpeg", "gif", "bmp"), "image")
          .when(col("media_type").isin("wav", "aiff", "au"), "audio")
          .when(col("media_type").isin(
            "webp", "mp3", "ogg", "flac", "mp4", "mkv", "avi"), "undecodable")
          .when(col("media_type").isin("gzip", "zip"), "archive")
          .otherwise("unknown"))
  }

  /** Canonical asset schema: (asset_id, modality, payload, meta…). */
  def assetsFromText(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("asset_id"),
      lit("image").as("modality"),
      // stand-in payload: utf-8 bytes of the text (deterministic)
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        length(col("text")).as("n_bytes"),
        col("source").as("origin")).as("meta"))

  /** Byte-budget repartitioning: compute per-row payload size, use the
    * running total to choose a partition count so each partition holds
    * ~`targetBytes`. At 100 TB this is the difference between balanced
    * executors and OOM on skewed assets. */
  def repartitionByBytes(assets: DataFrame, targetBytes: Long): DataFrame = {
    // sum() over zero rows is null — coalesce so an empty frame
    // repartitions to 1 instead of NPEing on getLong
    val total = assets.agg(coalesce(sum(length(col("payload"))), lit(0L)))
      .first().getLong(0)
    val parts = math.max(1, (total / targetBytes).toInt)
    assets.repartition(parts, col("asset_id"))
  }

  /** STUB image decode: real decoder would parse the codec header; the
    * stub derives deterministic (width, height, channels) from a hash
    * of the payload so downstream plumbing sees realistic metadata. */
  def decodeImageStub(assets: DataFrame): DataFrame =
    assets
      .withColumn("width", (pmod(xxhash64(col("payload")), lit(1920)) + 1).cast("int"))
      .withColumn("height", (pmod(xxhash64(col("payload"), lit(1)), lit(1080)) + 1).cast("int"))
      .withColumn("channels", lit(3))

  /** Metadata-only projection: never touches payload bytes — the
    * binary column is pruned out of the scan (asserted in spec). */
  def metadataOnly(assets: DataFrame): DataFrame =
    assets.select(col("asset_id"), col("modality"), col("meta"))
}
