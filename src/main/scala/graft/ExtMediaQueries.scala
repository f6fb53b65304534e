package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Curation, Multimodal, Similarity}

import ExtShared._

/** Multimodal family: real-media decode, image/audio/video dedup
  * codes, image-text pairing.
  * Entries and oracles moved verbatim from ExtQueries (round-19
  * split); [[ExtShared]] holds the dialect bridge. */
object ExtMediaQueries {

  val queries: Map[String, Q] = Map(

    "mft" -> ((s, d) =>
      Multimodal.featuresCols(Tables.documents(s, d),
        col("text").cast("binary"), col("doc_id")).orderBy("media_id")),

    // REAL audio fingerprinting: long-form closed-form PCM decoded and
    // envelope-hashed (33 windows, 32 louder-than-next bits) — the
    // audio near-dup key; the oracle prices the window arithmetic from
    // the sample closed form, container-blind.
    "afp" -> ((s, d) => {
      import s.implicits._
      val rows = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
        .map { case (id, nch) =>
          Multimodal.MediaRow(id, Multimodal.synthLongAudioPayload(id, nch),
            "audio/wav") }
      Multimodal.audioFingerprintBatched(rows).toDF().orderBy("media_id")
    }),

    // REAL image perceptual hashing: per doc an 18x16 closed-form-gray
    // PNG is synthesized as genuine (lossless) image bytes, decoded,
    // and dHashed — the oracle prices the block-mean/bit arithmetic
    // from the raster's closed form, image-blind.
    "ph" -> ((s, d) => {
      import s.implicits._
      val rows = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRow(id, Multimodal.synthPngPayload(id),
          "image/png"))
      Multimodal.dhashBatched(rows).toDF().orderBy("media_id")
    }),

    // Image near-dup pairs over the same fingerprints: band-bucket
    // candidates + exact Hamming verify at <= 3 bits (ids congruent
    // mod 256 render identical rasters -> the exact-dup backbone, plus
    // whatever genuinely near pairs the gradient pattern yields).
    "mnr" -> ((s, d) => {
      import s.implicits._
      val rows = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map(id => Multimodal.MediaRow(id, Multimodal.synthPngPayload(id),
          "image/png"))
      Multimodal.nearDupImages(Multimodal.dhashBatched(rows).toDF(),
          col("media_id"), col("dhash"))
        .orderBy("id_a", "id_b")
    }),

    // INCREMENTAL image dedup — the (image × incremental) cell of the
    // modality × mode matrix: even media_ids' dHash codes are the
    // accumulated store (imgCodesFor, via the replay-safe appendCodes),
    // the odd ids are the fresh crawl batch probed with tagNearCodes at
    // the mnr pairing distance. The oracle recomputes both sides'
    // hashes closed-form and tags by full-width XOR popcount (the two
    // 32-bit halves sum to exactly that).
    "mic" -> ((s, d) => {
      import s.implicits._
      val rows = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .filter(_ % 2 == 1)
        .map(id => Multimodal.MediaRow(id, Multimodal.synthPngPayload(id),
          "image/png"))
      val batch = Multimodal.imageCodes(Multimodal.dhashBatched(rows).toDF())
      Similarity.tagNearCodes(batch, imgCodesFor(s, d), maxHam = 3)
        .orderBy("vec_id")
    }),

    // INCREMENTAL audio dedup — the (audio × incremental) cell: even
    // ids' envelope codes are the stored history (audCodesFor), odd
    // ids the probed batch. The 32-bit fingerprint rides the code
    // store's low half, so the probe distance IS the envelope XOR
    // popcount the oracle recomputes closed-form.
    "mac" -> ((s, d) => {
      import s.implicits._
      val rows = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
        .filter(_._1 % 2 == 1)
        .map { case (id, nch) => Multimodal.MediaRow(id,
          Multimodal.synthLongAudioPayload(id, nch), "audio/wav") }
      val batch = Multimodal.audioCodes(
        Multimodal.audioFingerprintBatched(rows).toDF())
      Similarity.tagNearCodes(batch, audCodesFor(s, d), maxHam = 3)
        .orderBy("vec_id")
    }),

    // IMAGE-TEXT pair extraction (the LAION pairing seam): synthesized
    // pages exercise all four src reference forms — absolute,
    // protocol-relative (single quotes, attrs flipped, a literal '>'
    // inside the quoted alt that must NOT truncate the tag),
    // root-relative behind a spoofing alt="src='x.png'" (the quoted
    // value's inner src= must never win) beside a src-less tag that
    // must drop, and path-relative with an UNQUOTED src value and
    // UPPERCASE attribute names — plus a second tag on the t=0 page so
    // ref_idx > 0 is load-bearing. The oracle states each form's
    // resolved URL and caption closed-form, extraction-blind.
    "mit" -> ((s, d) =>
      Curation.imageRefs(mitPages(s, d),
          col("doc_id"), col("html"), col("url"))
        .orderBy("doc_id", "ref_idx")),

    // The COMPLETED pairing seam (VERDICT r18 #3): mit's extracted
    // references meet a synthesized fetched-image corpus. Each
    // distinct canonical URL whose 60-bit hash h is not ≡ 0 (mod 3)
    // was "fetched" — the other third is the crawl's coverage gap and
    // must drop through the inner join — as a REAL PNG of
    // (12 + h%5) × (10 + h%7) pixels carrying the closed-form gray
    // raster, decoded by the real pixel path (pixelsBatched). The pair
    // gate then applies the LAION-recipe floors: width ≥ 14,
    // height ≥ 12, caption ≥ 5 chars. The oracle recomputes dims,
    // fetch membership and the mean luma from h and the raster's
    // closed form — decode-blind — so a bug in the URL join, the PNG
    // decode, or either floor breaks the row.
    "mp" -> ((s, d) => mpPairs(s, d)._3.orderBy("doc_id", "ref_idx")),

    // The LAION SIMILARITY gate over the completed pairing seam
    // (VERDICT r19 #1): mp's pairs meet synthetic image and caption
    // embeddings whose quantized components are closed-form in the
    // url/caption 60-bit hashes — 4-dim vectors [(h%7+1, h%5+1,
    // h%3+1, 1)·0.1f] — so the exact-integer dot/norm machinery and
    // the one rounded double division are priced end-to-end by an
    // embedding-blind oracle. The 0.94 threshold provably bites both
    // ways at every SF (65 kept / 60 dropped of mp's 125 pairs at
    // sf0.001 — fixture-tuned; a real CLIP deployment uses ~0.28).
    "ms" -> ((s, d) => {
      val (refs, urls, pairs) = mpPairs(s, d)
      def comps(h: org.apache.spark.sql.Column) = array(
        ((h % 7 + 1) / 10.0).cast("float"),
        ((h % 5 + 1) / 10.0).cast("float"),
        ((h % 3 + 1) / 10.0).cast("float"),
        lit(0.1f))
      val imgEmb = urls.select(col("curl").as("img_url"),
        comps(col("h")).as("embedding"))
      val txtEmb = refs.select(col("alt").as("caption")).distinct()
        .select(col("caption"),
          comps(graft.ext.Text.hash60(col("caption"))).as("embedding"))
      Curation.pairSimilarity(pairs, imgEmb, txtEmb, minCosine = 0.94)
        .orderBy("doc_id", "ref_idx")
    }),

    "mfr" -> ((s, d) =>
      Multimodal.frameSample(
        Multimodal.featuresCols(Tables.documents(s, d),
          col("text").cast("binary"), col("doc_id")),
        maxFrames = 4).orderBy("media_id", "frame_idx")),

    "mr" -> ((s, d) =>
      Multimodal.resizePlan(
        Multimodal.featuresCols(Tables.documents(s, d),
          col("text").cast("binary"), col("doc_id")),
        maxW = 512, maxH = 512).orderBy("media_id")),

    // REAL audio decode on the correctness surface: per document a
    // closed-form PCM signal is containerized as genuine WAV bytes
    // (even ids) or genuine FLAC bytes (odd ids), then decoded by the
    // byte-level chunk walk / FLAC frame layer in audioBatched — the
    // oracle recomputes the stats from the closed form, container-blind,
    // so a decoder bug in EITHER container breaks the row.
    // REAL audio decode across FIVE container/codec variants —
    // doc_id % 4 routes linear-PCM WAV / FLAC / G.711 μ-law WAV /
    // mono IMA-ADPCM WAV, with the % 8 == 4 half of the PCM slice
    // carved out for G.711 A-law: both G.711 arms ship closed-form
    // bytes the oracle prices through the published expansion
    // formulas independently; ADPCM sends a constant signal through
    // the real block/header/fact machinery (the stateful nibble
    // arithmetic is spec-pinned).
    "mau" -> ((s, d) => {
      import s.implicits._
      val rows = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .map { case (id, nch) =>
          Multimodal.MediaRow(id, Multimodal.synthAudioPayload(id, nch),
            if (id % 4 == 1) "audio/flac" else "audio/wav") }
      Multimodal.audioBatched(rows).toDF().orderBy("media_id")
    }),

    // REAL video sample decode on the correctness surface: per document
    // an MJPEG-in-AVI clip of closed-form constant gray frames is
    // synthesized as genuine container bytes, then videoFramesBatched
    // walks the RIFF chunks and entropy-decodes each sampled frame's
    // JPEG — the oracle prices the frame arithmetic container-blind, so
    // a bug in the AVI walk, the frame sampling, OR the JPEG decode
    // breaks the row.
    "mv" -> ((s, d) => {
      import s.implicits._
      val rows = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .map { case (id, nch) =>
          Multimodal.MediaRow(id, Multimodal.synthVideoPayload(id, nch),
            "video/avi") }
      Multimodal.videoFramesBatched(rows, maxFrames = 4)
        .toDF().orderBy("media_id", "frame_idx")
    }),

    // Scene-cut segmentation over the same synthesized clips: frame f's
    // luma is (id*37 + f*11) % 256, so consecutive frames differ by 11
    // except across the mod-256 wrap (|diff| = 245) — threshold 64 cuts
    // exactly at the wraps, and the oracle states the segmentation from
    // the closed form while the query earns it through the real AVI
    // walk + JPEG decode + per-pixel mean-abs-diff.
    "msc" -> ((s, d) => {
      import s.implicits._
      val rows = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .map { case (id, nch) =>
          Multimodal.MediaRow(id, Multimodal.synthVideoPayload(id, nch),
            "video/avi") }
      Multimodal.sceneCutsBatched(rows, threshold = 64)
        .toDF().orderBy("media_id", "scene_idx")
    }),

    // VIDEO NEAR-DUP across clips — the standard keyframe recipe
    // composed from the verified pieces: scene segmentation
    // (sceneWalk, as msc) -> per-keyframe dHash (dhashOf, as ph) ->
    // banded Hamming pairing (nearDupImages, as mnr) -> clip-pair
    // rollup. Fixture clips are block-patterned 72x64 MJPEG-in-AVI
    // (synthVidDupPayload): id-div-4 groups share content up to a
    // 0..3 base shift, so grouped clips pair within <=3 bits while
    // unrelated clips scatter; the oracle prices segmentation, hash,
    // and pairing from the closed form, container-blind.
    "mvd" -> ((s, d) => {
      import s.implicits._
      val rows = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .map { case (id, nch) =>
          Multimodal.MediaRow(id, Multimodal.synthVidDupPayload(id, nch),
            "video/avi") }
      // keyframe key uses the wide 2^20 stride (keyframeCodes'
      // convention — r16's *8 packing aliased clips above 8 scenes);
      // maxBucket is DISABLED rather than silently relied on: the
      // fixture yields only 256 distinct hashes, so at a large enough
      // sf the default 4096 cap would start skipping whole buckets and
      // silently diverge from the cap-free oracle (ADVICE r16). The
      // fixture bounds bucket sizes at correctness scale anyway.
      val kf = Multimodal.sceneKeyframeHashes(rows).toDF()
        .select(expr("media_id * 1048576 + scene_idx").as("kid"), col("dhash"))
      Multimodal.nearDupImages(kf, col("kid"), col("dhash"), maxDist = 3,
          maxBucket = Int.MaxValue)
        .select(expr("id_a div 1048576").as("clip_a"),
          expr("id_b div 1048576").as("clip_b"), col("dist"))
        .where(col("clip_a") =!= col("clip_b"))
        .groupBy("clip_a", "clip_b")
        .agg(min("dist").as("min_dist"), count(lit(1)).as("n_scenes"))
        .orderBy("clip_a", "clip_b")
    }),

    // A/V DEMUX on the correctness surface: per document a real AVI
    // muxing an MJPEG video stream AND a chunked PCM audio stream
    // (mm_audio's closed-form samples, split across 01wb chunks); the
    // query demuxes the audio back out through the RIFF walk and prices
    // it with the same verified wavStats integer arithmetic — the
    // oracle recomputes the closed form, demux-blind, so a bug in
    // stream routing, chunk reassembly, OR the stats pass breaks it.
    "mav" -> ((s, d) => {
      import s.implicits._
      val rows = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .map { case (id, nch) =>
          Multimodal.MediaRow(id, Multimodal.synthAvPayload(id, nch),
            "video/avi") }
      Multimodal.avAudioBatched(rows).toDF().orderBy("media_id")
    }),
  )

  /** The shared mit → mp pipeline: extracted references, the
    * synthesized fetched-image corpus (each distinct canonical URL
    * whose 60-bit hash is not ≡ 0 mod 3, as a REAL PNG of
    * hash-derived dims decoded through pixelsBatched), and the gated
    * pairs. Returns (refs, fetched urls (curl, h, w, ht), pairs) so
    * `mp` and the similarity gate `ms` price the same seam. */
  private def mpPairs(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val pages = mitPages(s, d)
    // persisted query-scoped (the cdd pattern, VERDICT r20 #3): the
    // extracted-reference frame feeds THREE consumers in ms (the pair
    // join, the url derivation, the caption-embedding side) and two in
    // mp — unpersisted, the regex extraction over every page re-ran
    // once per consumer (5 parquet scans of documents in the ms plan;
    // 2 after). Same for urls: the fetched-image synthesis and the
    // image-embedding side both read it.
    val refs = graft.CacheScope.persistTracked(
      Curation.imageRefs(pages, col("doc_id"), col("html"), col("url")))
    val urls = graft.CacheScope.persistTracked(refs
      .select(Curation.canonicalUrl(col("img_url")).as("curl"))
      .distinct()
      .withColumn("h", graft.ext.Text.hash60(col("curl")))
      .where(col("h") % 3 =!= 0)
      .select(col("curl"), col("h"),
        (lit(12) + col("h") % 5).cast("int").as("w"),
        (lit(10) + col("h") % 7).cast("int").as("ht")))
    val media = urls.select(col("h"), col("w"), col("ht"))
      .as[(Long, Int, Int)]
      .map { case (h, w, ht) => Multimodal.MediaRow(h,
        Multimodal.synthPngPayloadSized(h, w, ht), "image/png") }
    val images = Multimodal.pixelsBatched(media).toDF()
      .join(urls.select(col("h").as("media_id"), col("curl")),
        "media_id")
      .select(col("curl").as("img_url"), col("width"), col("height"),
        col("mean_luma"))
    (refs, urls, Curation.imagePairs(refs, images,
      minW = 14, minH = 12, minCaptionChars = 5))
  }

  /** The mit/mp crawl-page fixture: four HTML templates by doc_id % 4
    * exercising every src reference form plus the r18 ADVICE trio
    * (quoted '>', spoofing alt value, unquoted attributes); both
    * oracles state the resolved (url, alt) pairs closed-form. */
  private def mitPages(s: SparkSession, d: String): DataFrame = {
    val h = (col("doc_id") % 100).cast("string")
    val t = col("doc_id") % 4
    val page = concat(lit("https://h"), (col("doc_id") % 5).cast("string"),
      lit(".example.com/d/p"), col("doc_id").cast("string"),
      lit(".html"))
    val html = when(t === 0, concat(
        lit("<p>x</p><img src=\"https://cdn.ex.com/i"), h,
        lit(".jpg\" alt=\"cat "), h,
        lit("\"><img src=\"/i2/"), h, lit(".jpg\" alt=\"b "), h,
        lit("\">")))
      .when(t === 1, concat(
        lit("<img alt='dog > "), h, lit("' src='//img.ex.org/p"), h,
        lit(".png'>")))
      .when(t === 2, concat(
        lit("<img alt=\"src='x.png'\" src=\"/s/"), h,
        lit(".gif\"><img class=\"x\">")))
      .otherwise(concat(
        lit("<img SRC=th/"), h, lit(".webp Alt=\"fish "), h,
        lit("\">")))
    Tables.documents(s, d).select(col("doc_id"),
      html.as("html"), page.as("url"))
  }

  val oracles: Map[String, String] = Map(

    "mft" -> (s"""
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS INT) AS byte_len,
       md5(text) AS content_hash,
       CAST(${h60("text")} % 1280 AS INT) AS width,
       CAST(${h60("md5(text)")} % 720 AS INT) AS height,
       CAST(octet_length(encode(text)) % 30 AS INT) AS n_frames
FROM documents ORDER BY media_id"""),

    "mfr" -> ("""WITH f AS (
  SELECT doc_id AS media_id, md5(text) AS content_hash,
         CAST(octet_length(encode(text)) % 30 AS INT) AS n_frames
  FROM documents
)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       md5(content_hash || ':' || frame_idx) AS frame_hash
FROM (SELECT media_id, content_hash,
             unnest(range(0, n_frames, CAST(ceil(n_frames / 4.0) AS INT))) AS frame_idx
      FROM f WHERE n_frames > 0)
ORDER BY media_id, frame_idx"""),

    "mr" -> (s"""WITH f AS (
  SELECT doc_id AS media_id,
         CAST(${h60("text")} % 1280 AS INT) AS width,
         CAST(${h60("md5(text)")} % 720 AS INT) AS height
  FROM documents
)
SELECT media_id, width, height,
       CAST(CASE WHEN width <= 512 AND height <= 512 THEN width
                 WHEN 512 * height <= 512 * width THEN 512
                 ELSE (width * 512) // height END AS INT) AS target_w,
       CAST(CASE WHEN width <= 512 AND height <= 512 THEN height
                 WHEN 512 * height <= 512 * width THEN (height * 512) // width
                 ELSE 512 END AS INT) AS target_h
FROM f WHERE width > 0 AND height > 0 ORDER BY media_id"""),

    // Mirror of mm_audio's closed-form synth (media_id % 4 routing
    // with the % 8 == 4 A-law carve-out): PCM/FLAC
    // price samples (id*31 + i*7) % 200 - 100; the G.711 variants price
    // bytes (id*31 + i*7) % 256 through the PUBLISHED expansions
    // (complement, sign/exponent/mantissa split, ((m*8+132)<<e)-132 —
    // the |sample| is the magnitude, so the sign bit drops out of the
    // mean); the ADPCM variant's constant signal prices to |c|. The
    // oracle never touches container bytes; n = n_chars % 50 + 1, mono
    // 8 kHz, decoded width 16 everywhere.
    "mau" -> ("""WITH f AS (
  SELECT doc_id AS media_id, n_chars % 50 + 1 AS n FROM documents
), s AS (
  SELECT media_id, n, unnest(range(0, n)) AS i FROM f
), u AS (
  SELECT media_id, n, i,
         xor((media_id * 31 + i * 7) % 256, 255) AS ub,
         xor((media_id * 31 + i * 7) % 256, 85) AS ab
  FROM s
), a AS (
  SELECT media_id, n,
         sum(abs((media_id * 31 + i * 7) % 200 - 100)) AS sabs,
         sum((((ub % 16) * 8 + 132) << ((ub // 16) % 8)) - 132) AS usabs,
         sum(CASE WHEN (ab // 16) % 8 = 0 THEN (ab % 16) * 16 + 8
             ELSE ((ab % 16) * 16 + 264) << ((ab // 16) % 8 - 1) END) AS asabs
  FROM u GROUP BY media_id, n
)
SELECT media_id,
       CASE WHEN media_id % 8 = 4 THEN 'alaw'
            WHEN media_id % 4 = 0 THEN 'wav' WHEN media_id % 4 = 1 THEN 'flac'
            WHEN media_id % 4 = 2 THEN 'ulaw' ELSE 'adpcm' END AS format,
       CAST(1 AS INT) AS channels, CAST(8000 AS INT) AS sample_rate,
       CAST(16 AS INT) AS bits, CAST(n AS BIGINT) AS n_frames,
       CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(CASE WHEN media_id % 8 = 4 THEN asabs // n
         WHEN media_id % 4 = 2 THEN usabs // n
         WHEN media_id % 4 = 3 THEN abs((media_id * 31) % 200 - 100)
         ELSE sabs // n END AS BIGINT) AS mean_abs_amp
FROM a ORDER BY media_id"""),

    // Mirror of mm_video's closed-form synth: n = n_chars % 9 + 2
    // constant 16x16 gray frames of value (id*37 + f*11) % 256, sampled
    // at stride ceil(n/4). The oracle never touches AVI or JPEG bytes —
    // it prices the pixel arithmetic the Spark side must recover through
    // a real chunk walk + entropy decode.
    "mv" -> ("""WITH f AS (
  SELECT doc_id AS media_id, n_chars % 9 + 2 AS n FROM documents
), s AS (
  SELECT media_id, unnest(range(0, n, CAST(ceil(n / 4.0) AS INT))) AS i FROM f
)
SELECT media_id, CAST(i AS INT) AS frame_idx,
       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       CAST(256 AS BIGINT) AS n_pixels,
       CAST((media_id * 37 + i * 11) % 256 AS INT) AS mean_luma
FROM s ORDER BY media_id, frame_idx"""),

    // mv's closed form segmented: cut where the consecutive luma
    // diff reaches 64 (the mod-256 wrap), scenes numbered by a running
    // cut count, keyframe = first frame of each scene. The oracle never
    // touches container or JPEG bytes.
    "msc" -> ("""WITH f AS (
  SELECT doc_id AS media_id, n_chars % 9 + 2 AS n FROM documents
), v AS (
  SELECT media_id, i, (media_id * 37 + i * 11) % 256 AS v
  FROM (SELECT media_id, unnest(range(0, n)) AS i FROM f)
), c AS (
  SELECT media_id, i, v,
         CASE WHEN i = 0 OR abs(v - lag(v) OVER
           (PARTITION BY media_id ORDER BY i)) >= 64 THEN 1 ELSE 0 END AS cut
  FROM v
), s AS (
  SELECT media_id, i, v,
         sum(cut) OVER (PARTITION BY media_id ORDER BY i) - 1 AS sc
  FROM c
)
SELECT media_id, CAST(sc AS INT) AS scene_idx,
       CAST(min(i) AS INT) AS start_frame, CAST(max(i) AS INT) AS end_frame,
       CAST(arg_min(v, i) AS INT) AS key_luma
FROM s GROUP BY media_id, sc ORDER BY media_id, scene_idx"""),

    // synthVidDupPayload's closed form through the whole video
    // near-dup pipeline, container-blind: scenes are exactly f div 3
    // (within-scene +5 steps wrap <=10 of 72 block phases
    // [multiplicity <=2] -> mean diff <=39 < 64; boundary +87 steps
    // diff every block >=64), keyframe dHash bit (gy*8+gx) set iff
    // (kb + 29gx + 53gy) % 256 >= 227, pairing = exact Hamming <= 3
    // (the band join is complete at that radius by pigeonhole, and at
    // correctness scale no bucket can reach the 4096 cap), then the
    // clip-pair rollup. The 64-bit hash is packed as two 32-bit halves
    // (dlo = rows gy<4, dhi = gy>=4) to keep DuckDB's << off bit 63.
    "mvd" -> ("""WITH d AS (
  SELECT doc_id, n_chars % 5 + 2 AS n FROM documents
), kf AS (
  SELECT doc_id, s,
    (doc_id // 4 * 53 + doc_id % 4 + 97 * s) % 256 AS kb
  FROM (SELECT doc_id, unnest(range(CASE WHEN n >= 4 THEN 2 ELSE 1 END)) AS s
        FROM d)
), h AS (
  SELECT doc_id * 1048576 + s AS kid, doc_id,
    bit_or(CASE WHEN (kb + 29 * gx + 53 * gy) % 256 >= 227 AND gy < 4
      THEN 1::BIGINT << CAST(gy * 8 + gx AS INT) ELSE 0 END) AS dlo,
    bit_or(CASE WHEN (kb + 29 * gx + 53 * gy) % 256 >= 227 AND gy >= 4
      THEN 1::BIGINT << CAST((gy - 4) * 8 + gx AS INT) ELSE 0 END) AS dhi
  FROM kf, (SELECT unnest(range(8)) AS gx), (SELECT unnest(range(8)) AS gy)
  GROUP BY 1, 2
), p AS (
  SELECT a.doc_id AS clip_a, b.doc_id AS clip_b,
         bit_count(xor(a.dlo, b.dlo)) + bit_count(xor(a.dhi, b.dhi)) AS dist
  FROM h a JOIN h b ON a.kid < b.kid AND a.doc_id <> b.doc_id
  WHERE bit_count(xor(a.dlo, b.dlo)) + bit_count(xor(a.dhi, b.dhi)) <= 3
)
SELECT clip_a, clip_b, CAST(min(dist) AS INT) AS min_dist,
       CAST(count(*) AS BIGINT) AS n_scenes
FROM p GROUP BY 1, 2 ORDER BY 1, 2"""),

    // mm_audio's closed form recovered through the AVI demux: the
    // oracle never touches the container — same PCM arithmetic, format
    // pinned to the demux path.
    // Mirror of synthLongAudioPayload + audioFingerprintBatched: the
    // sample closed form |(id*31 + i*7) % 200 - 100| over n =
    // n_chars % 200 + 64 frames, 33 floor-boundary windows (exact via
    // the range join, never an inverse-index formula), truncated
    // window means, 32 louder-than-next bits.
    "afp" -> (AfpCte + """
SELECT media_id, 'wav' AS codec, CAST(8000 AS INT) AS sample_rate,
       CAST(n AS BIGINT) AS n_frames, afp
FROM code ORDER BY media_id"""),

    // Mirror of mac: even ids are the stored audio-code history, odd
    // ids the probed batch; near_history by envelope-code XOR popcount
    // <= 3 (the 32-bit fingerprint rides the code store's low half).
    "mac" -> (AfpCte + """, bt AS (
  SELECT media_id, afp FROM code WHERE media_id % 2 = 1
), nr AS (
  SELECT DISTINCT b.media_id
  FROM bt b JOIN code t
    ON t.media_id % 2 = 0 AND bit_count(xor(b.afp, t.afp)) <= 3
)
SELECT b.media_id AS vec_id,
       (nr.media_id IS NOT NULL) AS near_history
FROM bt b LEFT JOIN nr ON b.media_id = nr.media_id
ORDER BY vec_id"""),

    // Mirror of mit: each synthesized page's resolved (img_url, alt)
    // pairs stated closed-form per reference form — extraction-blind
    // (t=1 carries a quoted '>', t=2 a spoofing alt whose VALUE is a
    // literal src='x.png', t=3 an unquoted src — the r18 ADVICE trio).
    "mit" -> ("""WITH f AS (
  SELECT doc_id, doc_id % 100 AS h, doc_id % 4 AS t,
         'https://h' || (doc_id % 5) || '.example.com' AS hb
  FROM documents
), r AS (
  SELECT doc_id,
    CASE t
      WHEN 0 THEN [
        {u: 'https://cdn.ex.com/i' || h || '.jpg', a: 'cat ' || h},
        {u: hb || '/i2/' || h || '.jpg', a: 'b ' || h}]
      WHEN 1 THEN [{u: 'https://img.ex.org/p' || h || '.png',
                    a: 'dog > ' || h}]
      WHEN 2 THEN [{u: hb || '/s/' || h || '.gif', a: 'src=''x.png'''}]
      ELSE [{u: hb || '/d/th/' || h || '.webp', a: 'fish ' || h}]
    END AS refs
  FROM f
)
SELECT doc_id, CAST(i AS BIGINT) AS ref_idx,
       refs[i+1].u AS img_url, refs[i+1].a AS alt
FROM (SELECT doc_id, refs, unnest(range(len(refs))) AS i FROM r)
ORDER BY doc_id, ref_idx"""),

    // Mirror of mp: the same closed-form refs, canonicalized by
    // stripping the https scheme (every fixture URL is already
    // lowercase, portless, paramless); fetch membership, dims and the
    // decoded mean luma all re-derived from the 60-bit url hash and
    // the raster's closed form — decode-blind.
    "mp" -> ("""WITH f AS (
  SELECT doc_id, doc_id % 100 AS h, doc_id % 4 AS t,
         'https://h' || (doc_id % 5) || '.example.com' AS hb
  FROM documents
), r AS (
  SELECT doc_id,
    CASE t
      WHEN 0 THEN [
        {u: 'https://cdn.ex.com/i' || h || '.jpg', a: 'cat ' || h},
        {u: hb || '/i2/' || h || '.jpg', a: 'b ' || h}]
      WHEN 1 THEN [{u: 'https://img.ex.org/p' || h || '.png',
                    a: 'dog > ' || h}]
      WHEN 2 THEN [{u: hb || '/s/' || h || '.gif', a: 'src=''x.png'''}]
      ELSE [{u: hb || '/d/th/' || h || '.webp', a: 'fish ' || h}]
    END AS refs
  FROM f
), c AS (
  SELECT doc_id, CAST(i AS BIGINT) AS ref_idx,
         substr(refs[i+1].u, 9) AS curl, refs[i+1].a AS a
  FROM (SELECT doc_id, refs, unnest(range(len(refs))) AS i FROM r)
), img AS (
  SELECT curl, hh, 12 + hh % 5 AS w, 10 + hh % 7 AS ht
  FROM (SELECT curl,
          CAST(('0x' || substr(md5(curl),1,15)) AS BIGINT) AS hh
        FROM (SELECT DISTINCT curl FROM c))
  WHERE hh % 3 != 0
), px AS (
  SELECT curl, hh, w, ht, unnest(range(w)) AS x FROM img
), pxy AS (
  SELECT curl, hh, w, ht, x, unnest(range(ht)) AS y FROM px
), lum AS (
  SELECT curl, w, ht,
         sum((hh * 7 + 11 * x + 3 * y) % 256) // (w * ht) AS ml
  FROM pxy GROUP BY curl, w, ht
)
SELECT c.doc_id, c.ref_idx, c.curl AS canonical_url, c.a AS caption,
       CAST(l.w AS INT) AS width, CAST(l.ht AS INT) AS height,
       CAST(l.ml AS INT) AS mean_luma
FROM c JOIN lum l ON c.curl = l.curl
WHERE l.w >= 14 AND l.ht >= 12 AND length(c.a) >= 5
ORDER BY doc_id, ref_idx"""),

    // Mirror of ms: mp's closed form extended with the synthetic
    // embeddings — quantized components (h%7+1, h%5+1, h%3+1, 1)·1e5
    // from the url hash (image side) and the caption hash (text
    // side); exact BIGINT dot/norms, ONE rounded double division (the
    // same IEEE sequence as cosineQNormed), gate at 0.94 —
    // embedding-blind: a bug in the quantization, either join, or the
    // cosine breaks the row.
    "ms" -> ("""WITH f AS (
  SELECT doc_id, doc_id % 100 AS h, doc_id % 4 AS t,
         'https://h' || (doc_id % 5) || '.example.com' AS hb
  FROM documents
), r AS (
  SELECT doc_id,
    CASE t
      WHEN 0 THEN [
        {u: 'https://cdn.ex.com/i' || h || '.jpg', a: 'cat ' || h},
        {u: hb || '/i2/' || h || '.jpg', a: 'b ' || h}]
      WHEN 1 THEN [{u: 'https://img.ex.org/p' || h || '.png',
                    a: 'dog > ' || h}]
      WHEN 2 THEN [{u: hb || '/s/' || h || '.gif', a: 'src=''x.png'''}]
      ELSE [{u: hb || '/d/th/' || h || '.webp', a: 'fish ' || h}]
    END AS refs
  FROM f
), c AS (
  SELECT doc_id, CAST(i AS BIGINT) AS ref_idx,
         substr(refs[i+1].u, 9) AS curl, refs[i+1].a AS a
  FROM (SELECT doc_id, refs, unnest(range(len(refs))) AS i FROM r)
), img AS (
  SELECT curl, hh, 12 + hh % 5 AS w, 10 + hh % 7 AS ht
  FROM (SELECT curl,
          CAST(('0x' || substr(md5(curl),1,15)) AS BIGINT) AS hh
        FROM (SELECT DISTINCT curl FROM c))
  WHERE hh % 3 != 0
), px AS (
  SELECT curl, hh, w, ht, unnest(range(w)) AS x FROM img
), pxy AS (
  SELECT curl, hh, w, ht, x, unnest(range(ht)) AS y FROM px
), lum AS (
  SELECT curl, any_value(hh) AS hh, w, ht,
         sum((hh * 7 + 11 * x + 3 * y) % 256) // (w * ht) AS ml
  FROM pxy GROUP BY curl, w, ht
), base AS (
  SELECT c.doc_id, c.ref_idx, c.curl AS canonical_url, c.a AS caption,
         CAST(l.w AS INT) AS width, CAST(l.ht AS INT) AS height,
         CAST(l.ml AS INT) AS mean_luma, l.hh,
         CAST(('0x' || substr(md5(c.a),1,15)) AS BIGINT) AS ch
  FROM c JOIN lum l ON c.curl = l.curl
  WHERE l.w >= 14 AND l.ht >= 12 AND length(c.a) >= 5
), q AS (
  SELECT *,
    (hh % 7 + 1) * 100000 AS i1, (hh % 5 + 1) * 100000 AS i2,
    (hh % 3 + 1) * 100000 AS i3, CAST(100000 AS BIGINT) AS i4,
    (ch % 7 + 1) * 100000 AS t1, (ch % 5 + 1) * 100000 AS t2,
    (ch % 3 + 1) * 100000 AS t3, CAST(100000 AS BIGINT) AS t4
  FROM base
), g AS (
  SELECT doc_id, ref_idx, canonical_url, caption, width, height,
         mean_luma,
         round(CAST(i1*t1 + i2*t2 + i3*t3 + i4*t4 AS DOUBLE) /
           sqrt(CAST(i1*i1 + i2*i2 + i3*i3 + i4*i4 AS DOUBLE) *
                CAST(t1*t1 + t2*t2 + t3*t3 + t4*t4 AS DOUBLE)), 6) AS sim
  FROM q
)
SELECT * FROM g WHERE sim >= 0.94 ORDER BY doc_id, ref_idx"""),

    // Mirror of synthPngPayload + dhashOf: the raster's closed form
    // through block means and bit packing — no image bytes touched.
    "ph" -> (DhashCte + """
SELECT media_id, CAST(18 AS INT) AS width, CAST(16 AS INT) AS height,
       h AS dhash
FROM hh ORDER BY media_id"""),

    // Mirror of nearDupImages over the same hashes: 16-bit band-bucket
    // candidates (arithmetic shift + mask, both engines agree on
    // negative hashes), exact Hamming verify at <= 3.
    "mnr" -> (DhashCte + """, bb AS (
  SELECT media_id, h, b, (h >> (b * 16)) & 65535 AS bucket
  FROM hh CROSS JOIN (SELECT unnest(range(4)) AS b)
), cand AS (
  SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b,
         x.h AS ha, y.h AS hb
  FROM bb x JOIN bb y
    ON x.b = y.b AND x.bucket = y.bucket AND x.media_id < y.media_id
)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS dist
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
ORDER BY id_a, id_b"""),

    // Mirror of mic: even ids are the stored history, odd ids the
    // probed batch; near_history by full-width XOR popcount <= 3 (the
    // Spark side's two 32-bit halves sum to exactly that).
    "mic" -> (DhashCte + """, bt AS (
  SELECT media_id, h FROM hh WHERE media_id % 2 = 1
), nr AS (
  SELECT DISTINCT b.media_id
  FROM bt b JOIN hh t
    ON t.media_id % 2 = 0 AND bit_count(xor(b.h, t.h)) <= 3
)
SELECT b.media_id AS vec_id,
       (nr.media_id IS NOT NULL) AS near_history
FROM bt b LEFT JOIN nr ON b.media_id = nr.media_id
ORDER BY vec_id"""),

    "mav" -> ("""WITH f AS (
  SELECT doc_id AS media_id, n_chars % 50 + 1 AS n FROM documents
), s AS (
  SELECT media_id, n, unnest(range(0, n)) AS i FROM f
), a AS (
  SELECT media_id, n, sum(abs((media_id * 31 + i * 7) % 200 - 100)) AS sabs
  FROM s GROUP BY media_id, n
)
SELECT media_id, 'avi' AS format,
       CAST(1 AS INT) AS channels, CAST(8000 AS INT) AS sample_rate,
       CAST(16 AS INT) AS bits, CAST(n AS BIGINT) AS n_frames,
       CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(sabs // n AS BIGINT) AS mean_abs_amp
FROM a ORDER BY media_id"""),
  )
}
