package graft
package gates

import org.apache.spark.sql.functions._

import graft.ops.Multimodal

/** Multimodal decode and dedup: real BMP, WAV, PNG, GIF and JPEG
  * decoding, frame sampling, resizing and perceptual near-dup. */
object MultimodalGates {
  import Gate.{t, tmpToken}

  val all: Seq[Gate] = Seq(

    // video-side frame sampling on a REAL multi-frame container:
    // 6-frame animated GIF (one true LZW stream per frame), keep every
    // 2nd frame, re-decode each — per-frame means gated in closed form
    Gate("q_multimodal_frames", (s, dir) => {
      import s.implicits._
      graft.ops.Dispatch.fanOut(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 2)
          .select(col("doc_id")), col("doc_id")).as[Long]
        .flatMap { id =>
          val fs = Multimodal
            .frameSample(Multimodal.gifAnimBytes(id, 6), 2).get
          fs.zipWithIndex.map { case (f, i) =>
            (id, i * 2, f(0), f(1), f(3)) }
        }.toDF("doc_id", "frame_idx", "w", "h", "mean_red")
    },
      Some("""WITH p AS (
        | SELECT doc_id, 8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h,
        |  doc_id % 200 AS base
        | FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT unnest([0, 2, 4]) AS fi)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        | CAST(w AS DOUBLE) AS w, CAST(h AS DOUBLE) AS h,
        | CAST(w*h*(base + 3*fi) + h*((w*(w-1))//2) + w*((h*(h-1))//2)
        |   AS DOUBLE) / (w*h) AS mean_red
        |FROM p CROSS JOIN f""".stripMargin)),

    // audio preprocess: PCM WAV decimation ÷4 (real chunk re-emission)
    // then re-decode — rate, frame count and mean gated in closed form
    Gate("q_multimodal_decimate", (s, dir) => {
      import s.implicits._
      graft.ops.Dispatch.fanOut(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 1)
          .select(col("doc_id")), col("doc_id")).as[Long]
        .map { id =>
          val out = Multimodal.decimateWav(Multimodal.wavBytes(id), 4).get
          val f = Multimodal.decodeWav(out).get
          (id, f(0), f(2), f(3))
        }.toDF("doc_id", "rate_out", "n_out", "mean_out")
    },
      Some("""WITH p AS (
        | SELECT doc_id, 8000 + (doc_id % 4) * 4000 AS sr,
        |  doc_id % 100 AS base
        | FROM documents WHERE doc_id % 3 = 1)
        |SELECT doc_id, CAST(sr // 4 AS DOUBLE) AS rate_out,
        | 50.0 AS n_out,
        | CAST(50 * base - 1250 +
        |  list_sum(list_transform(generate_series(0, 49),
        |    k -> (4 * k) % 50)) AS DOUBLE) / 50 AS mean_out
        |FROM p""".stripMargin)),

    // real pixel work on the multimodal path: nearest-neighbor BMP
    // thumbnail (image-space mapping, true stride/padding) then
    // re-decode — the mean is gated against the closed-form oracle
    Gate("q_multimodal_resize", (s, dir) => {
      import s.implicits._
      graft.ops.Dispatch.fanOut(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
          .select(col("doc_id")), col("doc_id")).as[Long]
        .map { id =>
          val rz = Multimodal
            .resizeBmp(Multimodal.bmpBytes(id), 8, 8).get
          val f = Multimodal.decodeBmp(rz).get
          (id, f(0), f(1), f(3))
        }.toDF("doc_id", "w_out", "h_out", "mean_blue")
    },
      Some("""WITH p AS (
        | SELECT doc_id, 8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h,
        |  doc_id % 200 AS base
        | FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id, 8.0 AS w_out, 8.0 AS h_out,
        | CAST(64 * base
        |  + 8 * list_sum(list_transform(generate_series(0, 7),
        |      x -> (x * w) // 8))
        |  + 8 * list_sum(list_transform(generate_series(0, 7),
        |      y -> (y * h) // 8)) AS DOUBLE) / 64 AS mean_blue
        |FROM p""".stripMargin)),

    // perceptual image dedup: dHash (9×8 luma gradient signs) through
    // the SAME 64-bit hamming dispatch text SimHash uses — ids sharing
    // a pattern key synthesize byte-identical BMPs, so the pair set
    // has a closed form the oracle pins WITHOUT decoding (the 50-key
    // cross-hamming floor that makes this sound is spec-asserted)
    Gate("q_image_neardup", (s, dir) => {
      import s.implicits._
      val imgs = graft.ops.Dispatch.fanOut(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
          .select(col("doc_id")), col("doc_id")).as[Long]
        .map(id => (id, Multimodal.bmpPatternBytes(id % 50)))
        .toDF("doc_id", "payload")
      Multimodal.imageNearDup(imgs, "doc_id", maxHamming = 4)
    },
      Some("""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(0 AS INT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id % 50 = b.doc_id % 50 AND a.doc_id < b.doc_id
        |WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 = 0""".stripMargin)),

    // audio near-dup: PCM energy-envelope fingerprint through the
    // same hamming dispatch (text/image/audio all dedup through ONE
    // kernel) — closed-form oracle on the keyed fixtures, cross-key
    // floor spec-asserted like q_image_neardup
    Gate("q_audio_neardup", (s, dir) => {
      import s.implicits._
      val clips = graft.ops.Dispatch.fanOut(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 1)
          .select(col("doc_id")), col("doc_id")).as[Long]
        .map(id => (id, Multimodal.wavPatternBytes(id % 40)))
        .toDF("doc_id", "payload")
      Multimodal.audioNearDup(clips, "doc_id", maxHamming = 4)
    },
      Some("""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(0 AS INT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id % 40 = b.doc_id % 40 AND a.doc_id < b.doc_id
        |WHERE a.doc_id % 3 = 1 AND b.doc_id % 3 = 1""".stripMargin)),

    // multimodal: payload + typed metadata (metadata-only query prunes
    // the payload column at the parquet scan)
    Gate("q_multimodal_meta", (s, dir) =>
      Multimodal.attachPayload(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"),
          col("media_meta.media_type").as("media_type"),
          col("media_meta.byte_length").as("byte_length"),
          col("media_meta.checksum").as("checksum")),
      Some("""SELECT doc_id,
        | CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image/png'
        |      WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
        | CAST(octet_length(encode(text)) AS BIGINT) AS byte_length,
        | md5(text) AS checksum
        |FROM documents""".stripMargin)),

    // multimodal: batched (stub) decode — plumbing check, rows-only
    // real file-based multimodal ingestion: BMP files on disk read
    // through Spark's binaryFile source (the production image-corpus
    // access path — content + path metadata as columns), ids parsed
    // from filenames, bytes decoded by the real header/stride parser;
    // fixture files are deterministic so the oracle stays closed-form
    Gate("q_binary_source", (s, dir) => {
      val outDir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_bin_${tmpToken(dir)}")
      outDir.mkdirs()
      // the fixture files are fabricated DISTRIBUTED (foreachPartition)
      // — never via a driver collect + local write loop, which would be
      // an unbounded driver materialization at corpus scale (r14
      // verdict #6). Idempotent under retries: bytes are a
      // deterministic function of the id and each id owns its file.
      // In local mode every task shares the driver's filesystem, which
      // is also what the binaryFile read below scans; a cluster
      // deployment of this scaffolding would point both at shared
      // storage.
      val outPath = outDir.getAbsolutePath
      t(s, dir, "documents").filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"))
        .foreachPartition { rows: java.util.Iterator[org.apache.spark.sql.Row] =>
          rows.forEachRemaining { r =>
            val id = r.getLong(0)
            val f = new java.io.File(outPath, s"img_$id.bmp")
            if (!f.exists())
              java.nio.file.Files.write(f.toPath, Multimodal.bmpBytes(id))
          }
        }
      val bin = s.read.format("binaryFile")
        .load(outDir.getAbsolutePath + "/*.bmp")
        .select(regexp_extract(col("path"), "img_(\\d+)\\.bmp$", 1)
          .cast("long").as("doc_id"),
          col("content").as("payload"))
      Multimodal.decodeMedia(bin, "doc_id")
        .select(col("doc_id"), col("media_type"),
          element_at(col("feature"), 1).as("w"),
          element_at(col("feature"), 2).as("h"),
          element_at(col("feature"), 4).as("mean_b"))
    },
      Some("""WITH p AS (
        | SELECT doc_id, 8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h
        | FROM documents WHERE doc_id % 97 = 0)
        |SELECT doc_id, 'image/bmp' AS media_type,
        | CAST(w AS DOUBLE) AS w, CAST(h AS DOUBLE) AS h,
        | CAST(w*h*(doc_id % 200) + h*((w*(w-1))//2) + w*((h*(h-1))//2)
        |      AS DOUBLE) / (w*h) AS mean_b
        |FROM p""".stripMargin)),

    // stub-decode batching plumbing; the gate's visible columns are
    // closed-form (payload = text bytes, feature(0) = byte length), so
    // it verifies against a SQL oracle even with the decoder stubbed
    Gate("q_multimodal_decode", (s, dir) => {
      val payload = Multimodal.attachPayload(
        t(s, dir, "documents"), "doc_id", "text")
      Multimodal.decodeFeatures(payload, "doc_id")
        .select(col("doc_id"), col("media_type"), col("n_bytes"),
          element_at(col("feature"), 1).as("f_len"))
    },
      // the stub-decode plumbing gate's visible columns are closed-form
      // (payload = the text bytes, feature(0) = byte length), so the
      // plumbing verifies cross-engine even though the decoder is a stub
      Some("""SELECT doc_id,
        | CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image/png'
        |      WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(COALESCE(octet_length(encode(text)), 0) AS DOUBLE) AS f_len
        |FROM documents""".stripMargin)),

    // multimodal REAL decode: synthesize format-valid BMP/WAV bytes,
    // then parse them back (headers, row stride, RIFF chunk walk) —
    // the oracle recomputes the decoded features from their closed
    // forms, so the gate verifies the write→parse round trip
    Gate("q_multimodal_decode_real", (s, dir) => {
      val media = Multimodal.synthesizeMedia(
        t(s, dir, "documents").filter(col("doc_id") % 3 < 2),
        "doc_id", "text")
      Multimodal.decodeMedia(media, "doc_id")
        .select(col("doc_id"), col("media_type"),
          element_at(col("feature"), 1).as("f1"),
          element_at(col("feature"), 2).as("f2"),
          element_at(col("feature"), 3).as("f3"),
          element_at(col("feature"), 4).as("f4"))
    },
      Some("""WITH p AS (
        | SELECT doc_id,
        |  8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h
        | FROM documents WHERE doc_id % 3 < 2)
        |SELECT doc_id,
        | CASE WHEN doc_id % 3 = 0 THEN 'image/bmp' ELSE 'audio/wav' END
        |   AS media_type,
        | CASE WHEN doc_id % 3 = 0 THEN CAST(w AS DOUBLE)
        |      ELSE CAST(8000 + (doc_id % 4) * 4000 AS DOUBLE) END AS f1,
        | CASE WHEN doc_id % 3 = 0 THEN CAST(h AS DOUBLE)
        |      ELSE 1.0 END AS f2,
        | CASE WHEN doc_id % 3 = 0 THEN 24.0
        |      ELSE 200.0 END AS f3,
        | CASE WHEN doc_id % 3 = 0 THEN
        |   CAST(w*h*(doc_id % 200) + h*((w*(w-1))//2) + w*((h*(h-1))//2)
        |        AS DOUBLE) / (w*h)
        | ELSE CAST(200*(doc_id % 100) - 100 AS DOUBLE) / 200 END AS f4
        |FROM p""".stripMargin)),

    // multimodal REAL decode round 2: zlib-compressed grayscale PNG
    // (inflate + all-filter scanline reconstruction) and STEREO PCM WAV
    // (multi-channel RIFF leg) — synthesized with closed-form features
    // so the oracle checks the inflate→un-filter→mean pipeline exactly
    Gate("q_multimodal_png", (s, dir) => {
      val media = Multimodal.synthesizePngWav(
        t(s, dir, "documents"), "doc_id")
      Multimodal.decodeMedia(media, "doc_id")
        .select(col("doc_id"), col("media_type"),
          element_at(col("feature"), 1).as("f1"),
          element_at(col("feature"), 2).as("f2"),
          element_at(col("feature"), 3).as("f3"),
          element_at(col("feature"), 4).as("f4"))
    },
      // PNG pixel (x,y) = id%200 + x + y ⇒ mean = base + (w−1)/2 + (h−1)/2,
      // a multiple of 0.25 → the one double division on each side is exact.
      // Stereo WAV frame sum = 3·(id%100) over 120 frames / 240 samples
      // ⇒ mean = 1.5·(id%100), also exact.
      Some("""WITH p AS (
        | SELECT doc_id, 8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END
        |   AS media_type,
        | CASE WHEN doc_id % 2 = 0 THEN CAST(w AS DOUBLE)
        |      ELSE CAST(8000 + (doc_id % 4) * 4000 AS DOUBLE) END AS f1,
        | CASE WHEN doc_id % 2 = 0 THEN CAST(h AS DOUBLE)
        |      ELSE 2.0 END AS f2,
        | CASE WHEN doc_id % 2 = 0 THEN 8.0
        |      ELSE 120.0 END AS f3,
        | CASE WHEN doc_id % 2 = 0 THEN
        |   CAST(w*h*(doc_id % 200) + h*((w*(w-1))//2) + w*((h*(h-1))//2)
        |        AS DOUBLE) / (w*h)
        | ELSE CAST(360 * (doc_id % 100) AS DOUBLE) / 240 END AS f4
        |FROM p""".stripMargin)),

    // REAL GIF decode: header/palette walk + full variable-width LZW
    // dictionary decode with only the JDK — features hash-exact
    // against the synthesis pixel law's closed form
    Gate("q_multimodal_gif", (s, dir) => {
      val media = Multimodal.synthesizeGif(t(s, dir, "documents"), "doc_id")
      Multimodal.decodeMedia(media, "doc_id")
        .select(col("doc_id"), col("media_type"),
          element_at(col("feature"), 1).as("f1"),
          element_at(col("feature"), 2).as("f2"),
          element_at(col("feature"), 3).as("f3"),
          element_at(col("feature"), 4).as("f4"))
    },
      // GIF shares pngBytes' pixel law (base + x + y, no wrap), so its
      // mean is the same closed form; f3 = 8 (palette bit depth)
      Some("""WITH p AS (
        | SELECT doc_id, 8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h
        | FROM documents)
        |SELECT doc_id, 'image/gif' AS media_type,
        | CAST(w AS DOUBLE) AS f1,
        | CAST(h AS DOUBLE) AS f2,
        | 8.0 AS f3,
        | CAST(w*h*(doc_id % 200) + h*((w*(w-1))//2) + w*((h*(h-1))//2)
        |      AS DOUBLE) / (w*h) AS f4
        |FROM p""".stripMargin)),

    // REAL JPEG decode via the JDK's bundled imageio reader (huffman +
    // IDCT ship in every stock JVM — no external codec library). JPEG
    // is lossy and decoder-specific, so the gate is rows-only and
    // projects only the deterministic faces (type, byte count, dims);
    // the decoded-mean accuracy is spec-bounded in OpsSpec
    Gate("q_multimodal_jpeg", (s, dir) => {
      val media = Multimodal.synthesizeJpeg(t(s, dir, "documents"), "doc_id")
      Multimodal.decodeMedia(media, "doc_id")
        .select(col("doc_id"), col("media_type"), col("n_bytes"),
          element_at(col("feature"), 1).as("width"),
          element_at(col("feature"), 2).as("height"))
    }, None)
  )
}
