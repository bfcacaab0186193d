package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata, processed per-partition so a
  * real decoder (JNI/FFI or a Python worker via Arrow batches) plugs in
  * without changing the plumbing. The Spark-side contract — schema,
  * partitioning, batch shape — is real and tested; only the codec is
  * stubbed (no image/audio libraries in this container).
  */
object Multimodal {

  /** An ingested media row: id + mime + raw bytes. */
  case class MediaRecord(doc_id: Long, mime: String, content: Array[Byte])

  /** Extracted features. `width`/`height` come from the (stubbed) decode. */
  case class MediaFeatures(doc_id: Long, mime: String, n_bytes: Long,
      checksum: Long, width: Long, height: Long)

  /** STUB decoder: a real implementation would parse the image header
    * (e.g. PNG IHDR / JPEG SOF). Deterministic fake derived from the
    * leading bytes so the pipeline is testable end-to-end.
    */
  def decodeStub(bytes: Array[Byte]): (Long, Long) = {
    val b0 = if (bytes.length > 0) bytes(0) & 0xff else 0
    val b1 = if (bytes.length > 1) bytes(1) & 0xff else 0
    (16L + (b0 % 16) * 16L, 16L + (b1 % 16) * 16L)
  }

  /** Per-partition featurization — the Scala analogue of `mapInPandas`:
    * one iterator pass per partition, constant memory, no shuffle. A
    * production decoder would batch rows here (e.g. hand N payloads to a
    * native library at once).
    */
  def featurize(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        val (w, h) = decodeStub(r.content)
        var sum = 0L
        var i = 0
        while (i < r.content.length) { sum = sum * 31 + (r.content(i) & 0xff); i += 1 }
        MediaFeatures(r.doc_id, r.mime, r.content.length.toLong, sum, w, h)
      }
    }
  }

  /** A sampled frame from a (stubbed) video payload. */
  case class FrameRecord(doc_id: Long, frame_no: Long, n_bytes: Long, checksum: Long)

  /** STUB resize: a real implementation re-encodes pixels; the stub
    * deterministically re-derives a payload of size w*h/64 from the
    * original bytes, preserving the per-partition batch shape.
    */
  def resizeStub(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](math.max(1, w * h / 64))
    var i = 0
    while (i < out.length) {
      out(i) = if (bytes.isEmpty) 0 else bytes(i % bytes.length)
      i += 1
    }
    out
  }

  /** Resize every payload (stub codec, real plumbing). */
  def resize(ds: Dataset[MediaRecord], w: Int, h: Int): Dataset[MediaRecord] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map(r => r.copy(content = resizeStub(r.content, w, h))))
  }

  /** STUB frame sampling: a real implementation seeks keyframes; the
    * stub slices the payload into fixed-width chunks and keeps every
    * `everyN`-th. flatMap shape — one input row fans out to 0..k frames.
    */
  def frameSample(ds: Dataset[MediaRecord], frameBytes: Int, everyN: Int): Dataset[FrameRecord] = {
    import ds.sparkSession.implicits._
    ds.flatMap { r =>
      r.content.grouped(frameBytes).zipWithIndex.collect {
        case (chunk, i) if i % everyN == 0 =>
          var sum = 0L
          chunk.foreach(b => sum = sum * 31 + (b & 0xff))
          FrameRecord(r.doc_id, i.toLong, chunk.length.toLong, sum)
      }
    }
  }

  /** Deterministic synthetic media built from document text (md5 bytes) —
    * stands in for real payloads in tests and the declared query.
    */
  def syntheticMedia(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"),
        lit("application/octet-stream").as("mime"),
        unhex(md5(col("text"))).as("content"))
      .as[MediaRecord]
  }

  def featuresDF(docs: DataFrame): DataFrame = {
    featurize(syntheticMedia(docs)).toDF()
  }
}
