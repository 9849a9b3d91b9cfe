package graft.pipeline

import graft.{Q, Tables}
import graft.pipeline.{PortableHash => PH}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column operators: image/audio/video payloads modeled as opaque
  * `binary` columns with a typed metadata struct, per the north-star spec.
  *
  * The ORACLED decode kernels are deterministic fakes (the DuckDB oracle
  * cannot run a codec) — what is real, tested, and scale-designed is the
  * Spark-side plumbing: the (payload: binary, meta: struct) schema, the
  * narrow partition-parallel transforms, binary slicing for frame sampling,
  * and fixed-dimension feature extraction feeding the ANN operators. A
  * REAL image decode exists too ([[imageKernel]], round 10): pure-JVM
  * javax.imageio behind the same [[decodeAssets]] contract, stub fallback
  * for non-image payloads, spec-pinned on a real PNG fixture.
  *
  * Payloads are synthesized from the documents table (text bytes stand in
  * for media bytes) so the operators run on the driver-provided data. The
  * stub arithmetic is the portable poly-hash family, so every query carries
  * a bit-exact DuckDB oracle; array-valued outputs (frame hashes, feature
  * vectors) are exposed through the API methods but the *declared* queries
  * emit scalar digests — the driver's pandas compare can only sort scalars
  * (round-1 p16/p17 harness crash).
  */
object Multimodal {

  private val MimeByMod = Seq("image/png", "audio/wav", "video/mp4")
  /** DuckDB mirror of the mime assignment in [[assets]]. */
  private val duckMime = MimeByMod.map(m => s"'$m'")
    .mkString("(([", ", ", "])[(doc_id % 3) + 1])")

  /** The multimodal table: doc payload bytes + typed metadata. */
  private[graft] def assets(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id").as("asset_id"),
        col("text").cast("binary").as("payload"),
        struct(
          element_at(
            array(MimeByMod.map(lit): _*), (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
            .as("mime"),
          length(col("text")).cast("long").as("n_bytes"),
          col("source").as("origin")).as("meta"))

  /** STUB decode: deterministic pseudo-dimensions from two independent
    * payload poly-hashes (a real build plugs an image codec here; schema
    * contract unchanged). */
  private def decode(s: SparkSession, dir: String): DataFrame =
    assets(s, dir)
      .withColumn("width",
        (pmod(expr(PH.sparkCharHash("cast(payload as string)", PH.TokMult)), lit(1920)) + 1).cast("int"))
      .withColumn("height",
        (pmod(expr(PH.sparkCharHash("cast(payload as string)", PH.TokMult2)), lit(1080)) + 1).cast("int"))
      .withColumn("channels", lit(3))
      .select(col("asset_id"), col("meta.mime").as("mime"),
        col("meta.n_bytes").as("n_bytes"), col("width"), col("height"), col("channels"))
      .orderBy(col("asset_id"))

  private val decodeSql =
    s"""SELECT doc_id AS asset_id, $duckMime AS mime,
       |  CAST(length(text) AS BIGINT) AS n_bytes,
       |  CAST(${PH.duckCharHash("text", PH.TokMult)} % 1920 + 1 AS INTEGER) AS width,
       |  CAST(${PH.duckCharHash("text", PH.TokMult2)} % 1080 + 1 AS INTEGER) AS height,
       |  3 AS channels
       |FROM documents ORDER BY asset_id""".stripMargin

  /** Resize planning: exact integer target dims preserving aspect ratio —
    * pure column arithmetic, no decode needed. */
  private def resizePlan(s: SparkSession, dir: String): DataFrame = {
    val maxDim = 256
    decode(s, dir)
      .withColumn("scale",
        least(lit(1.0), lit(maxDim) / greatest(col("width"), col("height"))))
      .withColumn("out_w", floor(col("width") * col("scale")).cast("int"))
      .withColumn("out_h", floor(col("height") * col("scale")).cast("int"))
      .select(col("asset_id"), col("width"), col("height"),
        col("out_w"), col("out_h"))
      .orderBy(col("asset_id"))
  }

  private val resizePlanSql =
    s"""WITH dims AS (
       |  SELECT doc_id AS asset_id,
       |    CAST(${PH.duckCharHash("text", PH.TokMult)} % 1920 + 1 AS INTEGER) AS width,
       |    CAST(${PH.duckCharHash("text", PH.TokMult2)} % 1080 + 1 AS INTEGER) AS height
       |  FROM documents),
       |scaled AS (
       |  SELECT asset_id, width, height,
       |    least(CAST(1.0 AS DOUBLE), 256 / greatest(width, height)) AS scale
       |  FROM dims)
       |SELECT asset_id, width, height,
       |  CAST(floor(width * scale) AS INTEGER) AS out_w,
       |  CAST(floor(height * scale) AS INTEGER) AS out_h
       |FROM scaled ORDER BY asset_id""".stripMargin

  /** Frame sampling for video payloads: every 64-byte block of the binary
    * (up to 10), hashed — real binary slicing (`substr` on binary), stub
    * frame decode. Array form for API consumers.
    *
    * The hash is taken over the *character* slice (payload decoded back to
    * string first) so the oracle — which slices `text` by characters — is
    * exact for any content; slicing the raw binary would split multi-byte
    * UTF-8 sequences and silently diverge on the first non-ASCII corpus. */
  private[graft] def frameSampleRaw(s: SparkSession, dir: String): DataFrame =
    assets(s, dir)
      .filter(col("meta.mime") === "video/mp4")
      .withColumn("n_frames",
        greatest(lit(1), (col("meta.n_bytes") / 64).cast("int")))
      .withColumn("frame_hashes",
        expr("transform(sequence(0, least(n_frames - 1, 9)), " +
          s"i -> ${PH.sparkCharHash("substr(cast(payload as string), i * 64 + 1, 64)", PH.TokMult)})"))

  /** Declared query: scalar digest of the sampled frame hashes (the array
    * stays API-only — the driver compare sorts on scalars). */
  private def frameSample(s: SparkSession, dir: String): DataFrame =
    frameSampleRaw(s, dir)
      .select(col("asset_id"), col("n_frames"),
        size(col("frame_hashes")).as("n_sampled"),
        expr(PH.sparkFoldDigest("frame_hashes")).as("frames_digest"))
      .orderBy(col("asset_id"))

  private val frameSampleSql = {
    val frameHash = PH.duckCharHash("substr(text, CAST(i * 64 + 1 AS INTEGER), 64)", PH.TokMult)
    s"""WITH v AS (
       |  SELECT doc_id AS asset_id, text,
       |    greatest(1, CAST(floor(length(text) / 64.0) AS INTEGER)) AS n_frames
       |  FROM documents WHERE (doc_id % 3) + 1 = 3),
       |f AS (
       |  SELECT asset_id, n_frames,
       |    list_transform(range(0, least(n_frames - 1, 9) + 1), i -> $frameHash) AS fh
       |  FROM v)
       |SELECT asset_id, n_frames, CAST(len(fh) AS INTEGER) AS n_sampled,
       |  ${PH.duckFoldDigest("fh")} AS frames_digest
       |FROM f ORDER BY asset_id""".stripMargin
  }

  /** STUB feature extraction: fixed-dim pseudo-embedding derived from the
    * payload poly-hash — the shape every downstream ANN operator consumes.
    * Array form for API consumers. */
  private[graft] def featuresRaw(s: SparkSession, dir: String): DataFrame =
    assets(s, dir)
      .withColumn("base", expr(PH.sparkCharHash("cast(payload as string)", PH.TokMult)))
      .withColumn("fv",
        expr(s"transform(sequence(0, 15), i -> pmod(base * (i + 1) + i, ${PH.P}L))"))
      .withColumn("features",
        expr(s"transform(fv, v -> cast(v as double) / cast(${PH.P} as double))"))

  /** Declared query: scalar digest of the 16 feature components. The fold
    * is unrolled into ONE expression with 16 references to the `base`
    * attribute: a `transform`-lambda over `base` would let CollapseProject
    * inline the charfold into the lambda body and recompute it per element
    * (measured 3× slower); a multi-referenced non-cheap alias is never
    * inlined, so the hash runs once per row. */
  private def features(s: SparkSession, dir: String): DataFrame = {
    val digest = (0 until 16).foldLeft("0L") { (acc, i) =>
      s"pmod(($acc) * ${PH.FoldMult}L + pmod(base * ${i + 1}L + ${i}L, ${PH.P}L), ${PH.P}L)"
    }
    assets(s, dir)
      .withColumn("base", expr(PH.sparkCharHash("cast(payload as string)", PH.TokMult)))
      .select(col("asset_id"), col("meta.mime").as("mime"),
        lit(16).as("dim"),
        expr(digest).as("features_digest"))
      .orderBy(col("asset_id"))
  }

  private val featuresSql = {
    val base = PH.duckCharHash("text", PH.TokMult)
    s"""WITH b AS (SELECT doc_id AS asset_id, $duckMime AS mime, $base AS base FROM documents),
       |f AS (
       |  SELECT asset_id, mime,
       |    list_transform(range(0, 16), i -> (base * (i + 1) + i) % ${PH.P}) AS fv
       |  FROM b)
       |SELECT asset_id, mime, 16 AS dim, ${PH.duckFoldDigest("fv")} AS features_digest
       |FROM f ORDER BY asset_id""".stripMargin
  }

  // ---------------------------------------------- pluggable codec plumbing
  /** Decoded-asset record: the schema contract a real codec stage fills. */
  final case class DecodedAsset(
      asset_id: Long, mime: String, n_bytes: Long,
      width: Int, height: Int, channels: Int)

  /** The deterministic stub kernel (same arithmetic as the SQL decode
    * path, so the two implementations are testably equal). */
  private[graft] def stubKernel(payload: Array[Byte], mime: String): (Int, Int, Int) = {
    import org.apache.spark.unsafe.types.UTF8String
    val s = UTF8String.fromBytes(payload)
    val w = (graft.functions.HashKernels.polyHash(s, PH.TokMult, PH.P) % 1920 + 1).toInt
    val h = (graft.functions.HashKernels.polyHash(s, PH.TokMult2, PH.P) % 1080 + 1).toInt
    (w, h, 3)
  }

  /** REAL pure-JVM image decode (round 10): javax.imageio ships with the
    * JDK (PNG/GIF/BMP/JPEG readers), so image-mime payloads decode to their
    * actual raster dimensions and channel count with zero external
    * dependencies. Payloads that are not decodable images — wrong mime,
    * truncated bytes, or the synthetic text-bytes corpus — fall back to
    * the deterministic [[stubKernel]], keeping the kernel TOTAL over any
    * input. The declared p14 oracle row stays on the stub for BOTH
    * engines (the DuckDB oracle cannot run a codec); this kernel is the
    * production arm the [[decodeAssets]] contract was built for,
    * spec-pinned against a real PNG fixture in MultimodalSpec. */
  private[graft] def imageKernel(payload: Array[Byte], mime: String): (Int, Int, Int) =
    if (mime == null || !mime.startsWith("image/")) stubKernel(payload, mime)
    else try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) stubKernel(payload, mime)
      else (img.getWidth, img.getHeight, img.getColorModel.getNumComponents)
    } catch {
      // NonFatal, not just IOException: imageio readers throw
      // RuntimeExceptions (IllegalArgumentException, CMMException,
      // IndexOutOfBounds) on malformed/truncated payloads, and a kernel
      // documented TOTAL must not kill an executor task on adversarial
      // bytes (round-11 advice)
      case scala.util.control.NonFatal(_) => stubKernel(payload, mime)
    }

  /** Partition-parallel decode of an assets frame ((asset_id, payload,
    * meta{mime, n_bytes, origin})) with a PLUGGABLE kernel — the exact
    * shape a codec drops into (the kernel runs inside `mapPartitions` on
    * the executors; per-partition it could hold a codec context/library
    * handle, amortized across its rows). */
  private[graft] def decodeAssets(assetsDf: DataFrame,
      kernel: (Array[Byte], String) => (Int, Int, Int))
      : org.apache.spark.sql.Dataset[DecodedAsset] = {
    import assetsDf.sparkSession.implicits._
    assetsDf
      .select(col("asset_id"), col("payload"), col("meta.mime").as("mime"),
        col("meta.n_bytes").as("n_bytes"))
      .as[(Long, Array[Byte], String, Long)]
      .mapPartitions { it =>
        // per-partition kernel setup would go here (codec init, buffers)
        it.map { case (id, payload, mime, nBytes) =>
          val (w, h, c) = kernel(payload, mime)
          DecodedAsset(id, mime, nBytes, w, h, c)
        }
      }
  }

  /** The (s, dir) convenience wrapper over [[decodeAssets]]. The default
    * kernel is the deterministic stub (MultimodalSpec pins
    * `decodePartitioned(stub) ≡ the SQL decode query`); pass
    * [[imageKernel]] for the real javax.imageio arm. */
  def decodePartitioned(s: SparkSession, dir: String,
      kernel: (Array[Byte], String) => (Int, Int, Int) = stubKernel)
      : org.apache.spark.sql.Dataset[DecodedAsset] =
    decodeAssets(assets(s, dir), kernel)

  // ------------------------------------------------------- real audio arm
  /** Decoded-audio record — the audio analogue of [[DecodedAsset]]. */
  final case class DecodedAudio(
      asset_id: Long, mime: String, n_bytes: Long,
      sample_rate: Int, n_frames: Long, channels: Int)

  /** REAL pure-JVM audio header decode (javax.sound.sampled ships WAV/
    * AIFF/AU readers with the JDK): sample rate, frame count, and channel
    * count from the actual audio format. Non-audio mimes and payloads the
    * JDK cannot parse return None — callers choose their fallback (the
    * Dataset arm emits a (0, 0, 0)-shaped row so the record stays total,
    * mirroring [[imageKernel]]'s stub fallback). */
  private[graft] def audioKernel(payload: Array[Byte], mime: String)
      : Option[(Int, Long, Int)] =
    if (mime == null || !mime.startsWith("audio/")) None
    else try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val f = in.getFormat
        Some((f.getSampleRate.toInt, in.getFrameLength, f.getChannels))
      } finally in.close()
    } catch {
      // same totality posture as imageKernel: header parsers can throw
      // unchecked exceptions on adversarial bytes
      case scala.util.control.NonFatal(_) => None
    }

  /** Partition-parallel audio decode over an assets frame — same
    * `mapPartitions` contract as [[decodeAssets]]; undecodable payloads
    * yield zeroed dimensions rather than dropping the row (the curation
    * pipeline filters on them downstream). */
  private[graft] def decodeAudioAssets(assetsDf: DataFrame)
      : org.apache.spark.sql.Dataset[DecodedAudio] = {
    import assetsDf.sparkSession.implicits._
    assetsDf
      .select(col("asset_id"), col("payload"), col("meta.mime").as("mime"),
        col("meta.n_bytes").as("n_bytes"))
      .as[(Long, Array[Byte], String, Long)]
      .mapPartitions { it =>
        it.map { case (id, payload, mime, nBytes) =>
          val (sr, nf, ch) = audioKernel(payload, mime).getOrElse((0, 0L, 0))
          DecodedAudio(id, mime, nBytes, sr, nf, ch)
        }
      }
  }

  // ------------------------------------------------- real multi-frame arm
  /** Decoded-frames record — the video/animation analogue of
    * [[DecodedAsset]]: frame count plus a bounded sample of per-frame
    * raster digests (≤10, matching the stub's frame cap). */
  final case class DecodedFrames(
      asset_id: Long, mime: String, n_frames: Int, frame_hashes: Seq[Long])

  /** Deterministic raster digest in the portable polynomial family: fold
    * ARGB pixels row-major at a ≤64×64 sampling stride, so huge frames
    * cost O(4096) reads, not O(pixels). */
  private def frameHash(img: java.awt.image.BufferedImage): Long = {
    var acc = 0L
    val stepX = math.max(1, img.getWidth / 64)
    val stepY = math.max(1, img.getHeight / 64)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        acc = (acc * PH.FoldMult + (img.getRGB(x, y) & 0xffffffffL)) % PH.P
        x += stepX
      }
      y += stepY
    }
    acc
  }

  /** REAL pure-JVM multi-frame decode (round 11): the JDK's imageio GIF
    * reader iterates animation frames (`getNumImages(true)` + `read(i)`),
    * so animated-GIF payloads — the one multi-frame container the JDK
    * ships a codec for — yield true frame counts and per-frame raster
    * digests. Non-multi-frame mimes and undecodable payloads return None;
    * the Dataset arm falls back to [[stubFrames]], keeping the record
    * total. The declared p16 oracle row stays on the stub for BOTH
    * engines (DuckDB cannot run a codec); this arm is the production
    * sibling, spec-pinned on a real 3-frame GIF fixture. */
  private[graft] def framesKernel(payload: Array[Byte], mime: String)
      : Option[(Int, Seq[Long])] =
    if (mime == null || !(mime.startsWith("video/") || mime == "image/gif")) None
    else try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (readers == null || !readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            val n = r.getNumImages(true)
            if (n <= 0) None
            else Some((n, (0 until math.min(n, 10)).map(i => frameHash(r.read(i)))))
          } finally r.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The stub frame pipeline as a row kernel — IDENTICAL arithmetic to
    * [[frameSampleRaw]]'s SQL expressions (64-CHAR slices of the payload
    * decoded as text, poly-hashed), so the Dataset arm with this fallback
    * is testably equal to the declared query. */
  private[graft] def stubFrames(payload: Array[Byte]): (Int, Seq[Long]) = {
    import org.apache.spark.unsafe.types.UTF8String
    val u = UTF8String.fromBytes(payload)
    val n = math.max(1, u.numChars / 64)
    val hashes = (0 until math.min(n, 10)).map { i =>
      graft.functions.HashKernels.polyHash(
        u.substring(i * 64, i * 64 + 64), PH.TokMult, PH.P)
    }
    (n, hashes)
  }

  /** Partition-parallel frame extraction over an assets frame — same
    * `mapPartitions` contract as [[decodeAssets]]: real codec first
    * ([[framesKernel]]), deterministic [[stubFrames]] fallback, so the
    * operator is total over any payload bytes. */
  private[graft] def decodeFrameAssets(assetsDf: DataFrame)
      : org.apache.spark.sql.Dataset[DecodedFrames] = {
    import assetsDf.sparkSession.implicits._
    assetsDf
      .select(col("asset_id"), col("payload"), col("meta.mime").as("mime"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        it.map { case (id, payload, mime) =>
          val (n, hs) = framesKernel(payload, mime).getOrElse(stubFrames(payload))
          DecodedFrames(id, mime, n, hs)
        }
      }
  }

  val all: Seq[Q] = Seq(
    Q("p14_multimodal_decode", decode, decodeSql),
    Q("p15_multimodal_resize", resizePlan, resizePlanSql),
    Q("p16_multimodal_frames", frameSample, frameSampleSql),
    Q("p17_multimodal_features", features, featuresSql))
}
