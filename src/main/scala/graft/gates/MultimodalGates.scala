package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Multimodal plumbing: real image, GIF and audio codecs through Spark
  * (decode, resize, frame sampling) and perceptual-hash dedup of images,
  * video and audio.
  */
object MultimodalGates {

  /** The frame-hash replay both video gates share: patterns `p = doc_id %
    * 200`, each pattern's gray GIF frames, and the 9x8 nearest-sample dHash
    * per (pattern, frame) as `fh(p, f, fhash)`. Gray frames make luma ==
    * the gray level; bit 63 is the sign bit, contributed as -(2^63) in
    * two's complement.
    */
  private val frameHashCtes = """WITH pats AS (SELECT DISTINCT doc_id % 200 AS p FROM documents),
      dim AS (SELECT p, 6 + p % 5 AS w, 6 + (p // 5) % 5 AS h,
                     2 + p % 4 AS n FROM pats),
      frames AS (SELECT d.p, d.w, d.h, f.f
                 FROM dim d, (SELECT unnest(range(5)) AS f) f WHERE f.f < d.n),
      cells AS (
        SELECT fr.p, fr.f, gr.gr, gc.gc,
               (fr.p*31 + fr.f*29 + ((gc.gc * fr.w) // 9)*7
                + ((gr.gr * fr.h) // 8)*13) % 256 AS s
        FROM frames fr,
             (SELECT unnest(range(8)) AS gr) gr,
             (SELECT unnest(range(9)) AS gc) gc),
      bits AS (
        SELECT a.p, a.f, a.gr, a.gc, CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
        FROM cells a JOIN cells b
          ON a.p = b.p AND a.f = b.f AND a.gr = b.gr AND b.gc = a.gc + 1
        WHERE a.gc < 8),
      fh AS (
        SELECT p, f, CAST(SUM(CASE WHEN bit = 1 THEN
                 CASE WHEN gr * 8 + gc = 63 THEN (-9223372036854775807 - 1)
                      ELSE (1::BIGINT << CAST(gr * 8 + gc AS INTEGER)) END
               ELSE 0 END) AS BIGINT) AS fhash
        FROM bits GROUP BY p, f)"""

  /** The perceptual-hash gates' corpus: one payload per distinct pattern
    * `doc_id % mod`, made by `synth` and hashed by `hash`, keyed by
    * `media_id` = the pattern.
    */
  private def patternHashes(s: SparkSession, mod: Int)(
      synth: (DataFrame, String) => DataFrame,
      hash: (DataFrame, String, String) => DataFrame): DataFrame =
    hash(synth(s.table("documents").select((col("doc_id") % mod).as("pat")).distinct(), "pat"),
      "media_id", "payload")

  /** The 20 largest groups of documents sharing a hash: each doc takes its
    * pattern's `hashed` rows by a broadcast join, grouped by `hashCol`,
    * with the `slot` aggregate per group.
    */
  private def hashGroups(s: SparkSession, mod: Int, hashed: DataFrame, hashCol: String,
      slot: Column): DataFrame =
    s.table("documents").select(col("doc_id"), (col("doc_id") % mod).as("media_id"))
      .join(broadcast(hashed), Seq("media_id"))
      .groupBy(hashCol)
      .agg(count(lit(1)).cast("long").as("members"), slot)
      .orderBy(col("members").desc, col(hashCol))
      .limit(20)

  val gates: Seq[Gate] = Seq(
    // frame sampling over REAL decoded GIF durations (per-frame delay
    // metadata read back from the GraphicControlExtension blocks), with a
    // live analytic replay: duration = frames * delay_cs * 10; sampled
    // frames at 2 fps = max(1, floor(dur/1000*2)); ts sum =
    // 500 * f * (f-1) / 2
    Gate("q_multimodal_frames", """
      WITH d AS (
        SELECT doc_id, 2 + doc_id % 4 AS nf, 20 + (doc_id % 5) * 10 AS delay
        FROM documents),
      fr AS (
        SELECT doc_id,
               GREATEST(1, CAST(FLOOR(CAST(nf * delay * 10 AS DOUBLE) / 1000.0 * 2.0) AS BIGINT)) AS f
        FROM d)
      SELECT CAST(SUM(f) AS BIGINT) AS frames, CAST(COUNT(*) AS BIGINT) AS medias,
             CAST(SUM(500 * f * (f - 1) / 2) AS BIGINT) AS ts_ms_sum
      FROM fr""") { (s, _) =>
      val payloads = Multimodal.synthesizeGifPayloads(s.table("documents"), "doc_id")
      val decoded = Multimodal.decodeAndFeaturize(payloads, "media_id", "payload", "video", 8)
      Multimodal.sampleFrames(decoded, 2.0)
        .agg(count(lit(1)).cast("long").as("frames"),
          countDistinct(col("media_id")).cast("long").as("medias"),
          sum("frame_ts_ms").cast("long").as("ts_ms_sum"))
    },

    // REAL byte-level resize: PNG decode -> nearest-neighbor resample
    // -> PNG re-encode -> decode again; NN index arithmetic is integer,
    // so DuckDB replays every resized pixel from the source formula:
    // target dims via the same LEAST/CEIL arithmetic, then source pixel
    // (x*w // tw, y*h // th)
    Gate("q_multimodal_resize", """
      WITH d AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id // 9) % 9 AS h FROM documents),
      t AS (
        SELECT doc_id, w, h,
               LEAST(6, CAST(CEIL(w * LEAST(1.0, 6.0 / GREATEST(w, h))) AS BIGINT)) AS tw,
               LEAST(6, CAST(CEIL(h * LEAST(1.0, 6.0 / GREATEST(w, h))) AS BIGINT)) AS th
        FROM d),
      px AS (
        SELECT t.doc_id, c.c,
               (t.doc_id * 31 + ((x.x * t.w) // t.tw) * 7
                + ((y.y * t.h) // t.th) * 13 + c.c * 101) % 256 AS v
        FROM t,
             (SELECT unnest(generate_series(0, 6)) AS x) x,
             (SELECT unnest(generate_series(0, 6)) AS y) y,
             (SELECT unnest(generate_series(0, 2)) AS c) c
        WHERE x.x < t.tw AND y.y < t.th)
      SELECT m.medias, m.sum_w, m.sum_h, p.px_sum, p.r_sum
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS medias,
                   CAST(SUM(tw) AS BIGINT) AS sum_w,
                   CAST(SUM(th) AS BIGINT) AS sum_h
            FROM t) m,
           (SELECT CAST(SUM(v) AS BIGINT) AS px_sum,
                   CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS r_sum
            FROM px) p""") { (s, _) =>
      val png = Multimodal.synthesizePngPayloads(s.table("documents"), "doc_id")
      val small = Multimodal.resizePayloads(png, "media_id", "payload", maxSide = 6)
      Multimodal.decodeAndFeaturize(small, "media_id", "payload", "image", 4)
        .agg(count(lit(1)).cast("long").as("medias"),
          sum(col("meta.width")).cast("long").as("sum_w"),
          sum(col("meta.height")).cast("long").as("sum_h"),
          sum(element_at(col("features"), 1).cast("long")).cast("long").as("px_sum"),
          sum(element_at(col("features"), 2).cast("long")).cast("long").as("r_sum"))
    },

    // REAL video codec round-trip: genuine animated GIFs (javax.imageio
    // multi-frame encoder) decoded back frame by frame; the lossless
    // gray palette lets DuckDB recompute every decoded-pixel statistic
    // analytically from the frame formula
    Gate("q_multimodal_video", """
      WITH d AS (
        SELECT doc_id, 6 + doc_id % 5 AS w, 6 + (doc_id // 5) % 5 AS h,
               2 + doc_id % 4 AS nf, 20 + (doc_id % 5) * 10 AS delay
        FROM documents),
      px AS (
        SELECT d.doc_id, fr.f AS fi, d.nf,
               (d.doc_id * 31 + fr.f * 29 + x.x * 7 + y.y * 13) % 256 AS v
        FROM d,
             (SELECT unnest(generate_series(0, 4)) AS f) fr,
             (SELECT unnest(generate_series(0, 10)) AS x) x,
             (SELECT unnest(generate_series(0, 10)) AS y) y
        WHERE fr.f < d.nf AND x.x < d.w AND y.y < d.h)
      SELECT m.medias, m.sum_w, m.sum_h, m.sum_c, m.sum_ms, p.px_sum, p.first_sum, p.last_sum
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS medias,
                   CAST(SUM(w) AS BIGINT) AS sum_w,
                   CAST(SUM(h) AS BIGINT) AS sum_h,
                   CAST(COUNT(*) AS BIGINT) AS sum_c,
                   CAST(SUM(nf * delay * 10) AS BIGINT) AS sum_ms
            FROM d) m,
           (SELECT CAST(SUM(v) AS BIGINT) AS px_sum,
                   CAST(SUM(CASE WHEN fi = 0 THEN v ELSE 0 END) AS BIGINT) AS first_sum,
                   CAST(SUM(CASE WHEN fi = nf - 1 THEN v ELSE 0 END) AS BIGINT) AS last_sum
            FROM px) p""") { (s, _) =>
      val payloads = Multimodal.synthesizeGifPayloads(s.table("documents"), "doc_id")
      val decoded = Multimodal.decodeAndFeaturize(payloads, "media_id", "payload", "video", 8)
      decoded.agg(count(lit(1)).cast("long").as("medias"),
        sum(col("meta.width")).cast("long").as("sum_w"),
        sum(col("meta.height")).cast("long").as("sum_h"),
        sum(col("meta.channels")).cast("long").as("sum_c"),
        sum(col("meta.duration_ms")).cast("long").as("sum_ms"),
        sum(element_at(col("features"), 1).cast("long")).cast("long").as("px_sum"),
        sum(element_at(col("features"), 2).cast("long")).cast("long").as("first_sum"),
        sum(element_at(col("features"), 3).cast("long")).cast("long").as("last_sum"))
    },

    // REAL codec round-trip: synthesize one genuine PNG per document
    // (javax.imageio encoder), decode it back (javax.imageio decoder),
    // and aggregate pixel statistics of the DECODED rasters. PNG is
    // lossless, so the DuckDB oracle recomputes every statistic
    // analytically from the pixel formula — any encoder/decoder/feature
    // bug breaks the hash match. Resize planning runs on the real dims;
    // the resize column replays Spark's double arithmetic op-for-op (IEEE
    // determinism: same ops, same order, same doubles).
    Gate("q_multimodal_decode", """
      WITH d AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id // 9) % 9 AS h FROM documents),
      px AS (
        SELECT d.doc_id, c.c,
               (d.doc_id * 31 + x.x * 7 + y.y * 13 + c.c * 101) % 256 AS v
        FROM d,
             (SELECT unnest(generate_series(0, 16)) AS x) x,
             (SELECT unnest(generate_series(0, 16)) AS y) y,
             (SELECT unnest(generate_series(0, 2)) AS c) c
        WHERE x.x < d.w AND y.y < d.h)
      SELECT m.medias, m.sum_w, m.sum_h, m.sum_c, p.px_sum, p.r_sum, m.sum_tw
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS medias,
                   CAST(SUM(w) AS BIGINT) AS sum_w,
                   CAST(SUM(h) AS BIGINT) AS sum_h,
                   CAST(3 * COUNT(*) AS BIGINT) AS sum_c,
                   CAST(SUM(LEAST(12, CAST(CEIL(w * LEAST(1.0, 12.0 / GREATEST(w, h))) AS BIGINT))) AS BIGINT) AS sum_tw
            FROM d) m,
           (SELECT CAST(SUM(v) AS BIGINT) AS px_sum,
                   CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS r_sum
            FROM px) p""") { (s, _) =>
      val payloads = Multimodal.synthesizePngPayloads(s.table("documents"), "doc_id")
      val decoded = Multimodal.decodeAndFeaturize(payloads, "media_id", "payload", "image", 4)
      Multimodal.withResizePlan(decoded, 12)
        .agg(count(lit(1)).cast("long").as("medias"),
          sum(col("meta.width").cast("long")).as("sum_w"),
          sum(col("meta.height").cast("long")).as("sum_h"),
          sum(col("meta.channels").cast("long")).as("sum_c"),
          sum(element_at(col("features"), 1).cast("long")).as("px_sum"),
          sum(element_at(col("features"), 2).cast("long")).as("r_sum"),
          sum(col("target_width").cast("long")).as("sum_tw"))
    },

    // image dedup by perceptual hash: payloads synthesized once per
    // distinct pattern (doc_id mod 500 — planted duplicate structure),
    // dHash'd through the REAL PNG decode, fanned back to documents by
    // a broadcast join, grouped by hash. DuckDB recomputes every hash
    // analytically from the pixel formula (nearest-sample grid + integer
    // luma, bit gr*8+gc set iff s(gc) > s(gc+1); bit 63 is the sign bit,
    // contributed as -(2^63) in two's complement).
    Gate("q_image_dedup", """
      WITH pats AS (SELECT DISTINCT doc_id % 500 AS p FROM documents),
      dim AS (SELECT p, 8 + p % 9 AS w, 8 + (p // 9) % 9 AS h FROM pats),
      grid AS (
        SELECT d.p, d.w, d.h, gr.gr, gc.gc,
               (gc.gc * d.w) // 9 AS x, (gr.gr * d.h) // 8 AS y
        FROM dim d,
             (SELECT unnest(range(8)) AS gr) gr,
             (SELECT unnest(range(9)) AS gc) gc),
      lum AS (
        SELECT p, gr, gc,
               (((p*31 + x*7 + y*13) % 256) * 299 +
                ((p*31 + x*7 + y*13 + 101) % 256) * 587 +
                ((p*31 + x*7 + y*13 + 202) % 256) * 114) // 1000 AS s
        FROM grid),
      bits AS (
        SELECT a.p, a.gr, a.gc, CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
        FROM lum a JOIN lum b ON a.p = b.p AND a.gr = b.gr AND b.gc = a.gc + 1
        WHERE a.gc < 8),
      hash AS (
        SELECT p, CAST(SUM(CASE WHEN bit = 1 THEN
                 CASE WHEN gr * 8 + gc = 63 THEN (-9223372036854775807 - 1)
                      ELSE (1::BIGINT << CAST(gr * 8 + gc AS INTEGER)) END
               ELSE 0 END) AS BIGINT) AS dhash
        FROM bits GROUP BY p),
      docs AS (SELECT doc_id, doc_id % 500 AS p FROM documents)
      SELECT h.dhash, CAST(COUNT(*) AS BIGINT) AS members,
             CAST(MIN(d.doc_id) AS BIGINT) AS min_doc
      FROM docs d JOIN hash h ON d.p = h.p
      GROUP BY h.dhash ORDER BY members DESC, dhash LIMIT 20""") { (s, _) =>
      hashGroups(s, 500,
        patternHashes(s, 500)(Multimodal.synthesizePngPayloads, Multimodal.dHash64),
        "dhash", min("doc_id").cast("long").as("min_doc"))
    },

    // video frame-hash dedup: per-frame dHash through the REAL animated-
    // GIF decode (patterns doc_id mod 200), shot-matching groups on the
    // frame hash; analytic replay of every frame hash ([[frameHashCtes]])
    Gate("q_video_dedup", s"""
      $frameHashCtes,
      docs AS (SELECT doc_id, doc_id % 200 AS p FROM documents)
      SELECT fh.fhash, CAST(COUNT(*) AS BIGINT) AS members,
             CAST(MIN(d.doc_id * 1000 + fh.f) AS BIGINT) AS min_slot
      FROM docs d JOIN fh ON d.p = fh.p
      GROUP BY fh.fhash ORDER BY members DESC, fhash LIMIT 20""") { (s, _) =>
      hashGroups(s, 200,
        patternHashes(s, 200)(Multimodal.synthesizeGifPayloads, Multimodal.frameDHashes),
        "fhash", min(col("doc_id") * 1000 + col("frame_idx")).cast("long").as("min_slot"))
    },

    // video scene-cut detection: consecutive-frame dHash Hamming
    // distance over the real GIF decode; a cut = distance above
    // threshold. Composed from frameDHashes + a frame-ordered window
    // per clip + bit_count(xor) — every hash and distance replays
    // analytically (the q_video_dedup frame-hash chain + lag/xor/bit_count).
    Gate("q_scene_cuts", s"""
      $frameHashCtes,
      d AS (
        SELECT p, f, fhash,
               lag(fhash) OVER (PARTITION BY p ORDER BY f) AS prev
        FROM fh),
      dist AS (
        SELECT p, CASE WHEN prev IS NOT NULL
                       THEN CAST(bit_count(xor(fhash, prev)) AS BIGINT) END AS dist
        FROM d)
      SELECT p AS pat, CAST(COUNT(*) AS BIGINT) AS frames,
             CAST(SUM(CASE WHEN dist >= 12 THEN 1 ELSE 0 END) AS BIGINT) AS cuts,
             CAST(SUM(COALESCE(dist, 0)) AS BIGINT) AS dist_sum
      FROM dist GROUP BY p ORDER BY pat LIMIT 40""") { (s, _) =>
      val fh = patternHashes(s, 200)(Multimodal.synthesizeGifPayloads, Multimodal.frameDHashes)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("media_id").orderBy("frame_idx")
      fh.withColumn("prev", lag(col("fhash"), 1).over(w))
        .withColumn("dist",
          when(col("prev").isNotNull,
            bit_count(col("fhash").bitwiseXOR(col("prev"))).cast("long")))
        .groupBy(col("media_id").as("pat"))
        .agg(count(lit(1)).cast("long").as("frames"),
          sum(when(col("dist") >= 12, 1L).otherwise(0L)).cast("long").as("cuts"),
          sum(coalesce(col("dist"), lit(0L))).cast("long").as("dist_sum"))
        .orderBy("pat")
        .limit(40)
    },

    // audio dedup by waveform fingerprint: the image gate's audio twin —
    // patterns doc_id mod 300, REAL WAV decode, 65-probe sign signature,
    // analytic DuckDB replay of every fingerprint: sample formula
    // ((p*31 + i*17) % 4001) - 2000 probed at the 65 positions k*N//65;
    // bit 63 = sign bit
    Gate("q_audio_dedup", """
      WITH pats AS (SELECT DISTINCT doc_id % 300 AS p FROM documents),
      dim AS (SELECT p, (400 + (p % 7) * 100) * (1 + p % 2) AS n FROM pats),
      probes AS (
        SELECT d.p, k.k,
               ((d.p*31 + ((k.k * d.n) // 65) * 17) % 4001) - 2000 AS s0,
               ((d.p*31 + (((k.k + 1) * d.n) // 65) * 17) % 4001) - 2000 AS s1
        FROM dim d, (SELECT unnest(range(64)) AS k) k),
      fp AS (
        SELECT p, CAST(SUM(CASE WHEN s0 > s1 THEN
                 CASE WHEN k = 63 THEN (-9223372036854775807 - 1)
                      ELSE (1::BIGINT << CAST(k AS INTEGER)) END
               ELSE 0 END) AS BIGINT) AS afp
        FROM probes GROUP BY p),
      docs AS (SELECT doc_id, doc_id % 300 AS p FROM documents)
      SELECT f.afp, CAST(COUNT(*) AS BIGINT) AS members,
             CAST(MIN(d.doc_id) AS BIGINT) AS min_doc
      FROM docs d JOIN fp f ON d.p = f.p
      GROUP BY f.afp ORDER BY members DESC, afp LIMIT 20""") { (s, _) =>
      hashGroups(s, 300,
        patternHashes(s, 300)(Multimodal.synthesizeWavPayloads, Multimodal.audioFingerprint64),
        "afp", min("doc_id").cast("long").as("min_doc"))
    },

    // real-WAV round-trip: pixels' audio sibling. Samples route through
    // actual RIFF/WAVE PCM-16 encode -> bytes -> decode -> feature
    // extraction; PCM is lossless, so DuckDB recomputes sample sums,
    // abs-sums, and zero crossings analytically from the sample formula.
    // Capped at 2000 clips so the oracle's generated-series replay stays
    // tractable at every sf. Zero crossings need the lag window over the
    // regenerated sample series.
    Gate("q_multimodal_audio", """
      WITH ids AS (
        SELECT doc_id AS id, 400 + (doc_id % 7) * 100 AS frames, 1 + doc_id % 2 AS ch
        FROM documents WHERE doc_id < 2000),
      s AS (
        SELECT id, ((id * 31 + i * 17) % 4001) - 2000 AS v, i
        FROM (SELECT id, unnest(generate_series(0, frames * ch - 1)) AS i FROM ids)),
      z AS (SELECT id, v, lag(v) OVER (PARTITION BY id ORDER BY i) AS pv FROM s),
      per AS (
        SELECT id, SUM(v) AS ssum, SUM(ABS(v)) AS asum,
               SUM(CASE WHEN pv IS NOT NULL AND pv * v < 0 THEN 1 ELSE 0 END) AS zx
        FROM z GROUP BY id)
      SELECT CAST(COUNT(*) AS BIGINT) AS clips,
             CAST(SUM(ids.frames) AS BIGINT) AS frames_sum,
             CAST(SUM(ids.ch) AS BIGINT) AS ch_sum,
             CAST(SUM((ids.frames * 1000) // 8000) AS BIGINT) AS dur_sum,
             CAST(SUM(per.ssum) AS BIGINT) AS s_sum,
             CAST(SUM(per.asum) AS BIGINT) AS abs_sum,
             CAST(SUM(per.zx) AS BIGINT) AS zx_sum
      FROM ids JOIN per ON per.id = ids.id""") { (s, _) =>
      val ids = s.table("documents").where(col("doc_id") < 2000)
      val payloads = Multimodal.synthesizeWavPayloads(ids, "doc_id")
      val decoded = Multimodal.decodeAndFeaturize(payloads, "media_id", "payload", "audio", 4)
      decoded.agg(count(lit(1)).cast("long").as("clips"),
        sum(col("meta.width").cast("long")).as("frames_sum"),
        sum(col("meta.channels").cast("long")).as("ch_sum"),
        sum(col("meta.duration_ms")).cast("long").as("dur_sum"),
        sum(element_at(col("features"), 1).cast("long")).as("s_sum"),
        sum(element_at(col("features"), 2).cast("long")).as("abs_sum"),
        sum(element_at(col("features"), 3).cast("long")).as("zx_sum"))
    },
  )
}
