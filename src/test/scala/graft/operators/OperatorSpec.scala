package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.GraftFunctions

class OperatorSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-operators-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docsDf = {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
    val nearDup = base.replace("tonight", "today") // 1 word of 17 changed
    val other = "completely different content about databases spark clusters and large scale query processing engines"
    spark.createDataFrame(Seq(
      (1L, base), (2L, nearDup), (3L, other), (4L, base) // 4 is an exact dup of 1
    )).toDF("doc_id", "text")
  }

  test("exact dedup: stats and drop") {
    val stats = Dedup.exactDuplicateStats(docsDf, "text").collect().head
    assert(stats.getLong(0) == 4 && stats.getLong(1) == 3 && stats.getLong(2) == 1)
    val kept = Dedup.dropExactDuplicates(docsDf, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(Array(1L, 2L, 3L)))
  }

  test("minhash-lsh: finds the near-duplicate pair, estimate tracks exact jaccard") {
    val pairs = Dedup.minHashNearDuplicates(docsDf, "text", "doc_id",
      numHashes = 128, bands = 32, shingleSize = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, _) => a == 1 && b == 2 }, s"missing (1,2) in ${pairs.mkString(",")}")
    assert(pairs.exists { case (a, b, _) => a == 1 && b == 4 }) // exact dup pair
    assert(!pairs.exists { case (a, b, _) => b == 3 || a == 3 }) // unrelated doc out
    // exact jaccard of doc1 vs doc2: shingles differ only around the last word
    val exact = Dedup.exactJaccardPairs(Dedup.shingleHashes(docsDf, "text", "doc_id", 3))
      .where(col("id1") === 1 && col("id2") === 2).select("jaccard").head().getDouble(0)
    val est = pairs.find(p => p._1 == 1 && p._2 == 2).get._3
    assert(math.abs(est - exact) < 0.15, s"estimate $est vs exact $exact")
    // exact dup pair must have jaccard estimate 1.0
    assert(pairs.find(p => p._1 == 1 && p._2 == 4).get._3 == 1.0)
    // asymmetric containment: a SUBSET doc (its shingles all inside a
    // bigger doc) scores containment 1.0 on its side while jaccard < 1
    val sps2 = spark; import sps2.implicits._
    val sub = Seq(
      (1L, "a b c d e f g h"), // superset
      (2L, "c d e f")          // 2 shingles, both inside doc 1
    ).toDF("doc_id", "text")
    val row = Dedup.exactJaccardPairs(Dedup.shingleHashes(sub, "text", "doc_id", 3))
      .select("id1", "id2", "jaccard", "containment1", "containment2").head()
    assert(row.getLong(0) == 1L && row.getLong(1) == 2L)
    assert(row.getDouble(4) == 1.0, row.toString) // doc2 fully contained
    assert(row.getDouble(3) < 0.5 && row.getDouble(2) < 0.5, row.toString)
  }

  test("near-duplicate clustering: min-label connected components") {
    val sps = spark; import sps.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L), (8L, 10L))
      .toDF("id1", "id2")
    val labels = Dedup.nearDuplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      8L -> 8L, 9L -> 8L, 10L -> 8L))
  }

  test("resolveNearDuplicates: best score per cluster wins, ties to smallest id") {
    val sps = spark; import sps.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 20L), // cluster 1: 2 wins on score
      (4L, 5L),                        // singleton keeps
      (5L, 7L), (6L, 7L)               // score tie: 5 wins on smaller id
    ).toDF("doc_id", "score")
    val out = Dedup.resolveNearDuplicates(docs, "doc_id", "score", pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(1L) == ((1L, false)) && out(2L) == ((1L, true)) &&
      out(3L) == ((1L, false)), out.toString)
    assert(out(4L) == ((4L, true)), out.toString)
    assert(out(5L) == ((5L, true)) && out(6L) == ((5L, false)), out.toString)
    // reserved-name guard
    intercept[IllegalArgumentException] {
      Dedup.resolveNearDuplicates(docs.withColumn("cluster", lit(1L)),
        "doc_id", "score", pairs)
    }
  }

  test("minhash signatures are partitioning-invariant (merge correctness)") {
    for (affine <- Seq(false, true)) {
      val sh = Dedup.shingleHashes(docsDf, "text", "doc_id", 3, portable = affine)
      val sig1 = Dedup.minHashSignatures(sh.repartition(1), 64, affine)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val sig8 = Dedup.minHashSignatures(sh.repartition(8), 64, affine)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(sig1 == sig8, s"affine=$affine")
    }
  }

  test("fused minhash kernel is hash-identical to the exploded aggregate pipeline") {
    // richer corpus: docsDf plus ragged/unicode/repeated-token documents
    val sps = spark; import sps.implicits._
    val extra = Seq(
      (10L, "a b c d e f g h i j k l m n o p"),
      (11L, "xx xx xx xx xx yy yy zz"),
      (12L, "café au lait café au lait encore une fois"),
      (13L, "one two three")).toDF("doc_id", "text")
    val corpus = docsDf.union(extra)
    for (portable <- Seq(false, true)) {
      val fused = corpus.select(col("doc_id"),
          ColumnBridge.column(MinHashSignatureExpr(ColumnBridge.expression(
            split(lower(col("text")), "\\s+")), 3, 64, portable)).as("sig"))
        .where(col("sig").isNotNull)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val exploded = Dedup.minHashSignatures(
          Dedup.shingleHashes(corpus, "text", "doc_id", 3, portable), 64, affine = portable)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(fused == exploded, s"portable=$portable")
    }
    // (the exploded pipeline computes xxhash64(slice(...)) / md5-prefix
    // hashes through Spark's own functions, so the equality above pins the
    // kernel to Spark's exact hash semantics in both modes)
    // null path: fewer tokens than the shingle width -> NULL signature
    val tiny = Seq((20L, "just two")).toDF("doc_id", "text")
    val nullSig = tiny.select(ColumnBridge.column(MinHashSignatureExpr(
        ColumnBridge.expression(split(lower(col("text")), "\\s+")), 3, 8, false)).as("sig"))
      .collect().head
    assert(nullSig.isNullAt(0))
  }

  test("simhash: near-dups within small hamming, unrelated far") {
    val fps = Dedup.simHashFingerprints(docsDf, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1) == fps(4)) // identical docs -> identical fingerprints
    val h12 = java.lang.Long.bitCount(fps(1) ^ fps(2))
    val h13 = java.lang.Long.bitCount(fps(1) ^ fps(3))
    assert(h12 < h13, s"near-dup hamming $h12 should be < unrelated $h13")
    val pairs = Dedup.simHashNearDuplicates(docsDf, "text", "doc_id", maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 4L)))
  }

  test("simhash: verified pair set is independent of the banding layout (recall 1.0)") {
    val sps = spark; import sps.implicits._
    // corpus with identical pairs, single-token edits, and unrelated docs
    val docs = (1L to 30L).map { i =>
      val base = s"shared prefix tokens alpha beta gamma delta epsilon zeta eta theta iota kappa doc${i % 7}"
      val text =
        if (i % 3 == 0) base                       // clusters of identical docs
        else if (i % 3 == 1) base + s" tail$i"      // near dups of the cluster
        else s"completely different content number $i with its own words $i $i"
      (i, text)
    }.toDF("doc_id", "text")
    def pairSet(blocks: Int) =
      Dedup.simHashNearDuplicates(docs, "text", "doc_id", maxHamming = 3, blocks = blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val legacy = pairSet(4)   // pre-round-6 fixed 4x16 layout
    assert(legacy.nonEmpty, "fixture must produce some near-dup pairs")
    assert(pairSet(6) == legacy)
    assert(pairSet(7) == legacy)
    // derived default (blocks = 0) — same pair set again
    assert(Dedup.simHashNearDuplicates(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == legacy)
  }

  test("simhash: derived block count — boundary pins and invariants") {
    // 30-bit floor: every corpus up to ~4M docs keeps the measured 6-block
    // layout (narrowest 3-of-6 key = 10+10+11 = 31 bits >= 30)
    assert(Dedup.derivedSimHashBlocks(2L, 3) == 6)
    assert(Dedup.derivedSimHashBlocks(60000L, 3) == 6)        // driver SF
    assert(Dedup.derivedSimHashBlocks(600000L, 3) == 6)       // bench SF
    assert(Dedup.derivedSimHashBlocks(1L << 21, 3) == 6)      // kb=31 boundary
    // kb=32 needs 7 blocks (narrowest 4-of-7 key = 9*3+10 = 37)
    assert(Dedup.derivedSimHashBlocks((1L << 21) + 1, 3) == 7)
    // third/fourth decade: 1e8 docs -> kb=37 and 1e9 -> kb=40, both
    // needing the 8-block / C(8,3)=56-band / 40-bit-key layout
    assert(Dedup.derivedSimHashBlocks(100000000L, 3) == 8)
    assert(Dedup.derivedSimHashBlocks(1000000000L, 3) == 8)
    // the derived layout is always a valid pigeonhole split within the
    // band budget (C(b, b-mh) <= 128)
    for (n <- Seq(2L, 1L << 21, 1L << 40, Long.MaxValue); mh <- Seq(0, 3, 12, 40)) {
      val b = Dedup.derivedSimHashBlocks(n, mh)
      assert(b > mh && b <= 64, s"n=$n mh=$mh -> b=$b")
    }
    // huge n at mh=3: the 56-bit target is unreachable within the band
    // budget (C(24,3)=2024) — widest feasible narrow key wins: 10 blocks,
    // C(10,3)=120 bands, 43-bit narrow key (6*6+7)
    assert(Dedup.derivedSimHashBlocks(Long.MaxValue, 3) == 10)
    // large maxHamming: mh=12 -> b in 13..14 feasible (C(15,3)=455 over
    // budget), minKey 4/8 -> 14 blocks; mh=40 -> only b=41 feasible
    // (C(42,2)=861 over budget) -> 41
    assert(Dedup.derivedSimHashBlocks(Long.MaxValue, 12) == 14)
    assert(Dedup.derivedSimHashBlocks(Long.MaxValue, 40) == 41)
  }

  test("embeddings: cosine + brute-force top-k correctness") {
    val sps = spark; import sps.implicits._
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0)),
      (2L, Array(0.9, 0.1, 0.0)),   // closest to 1
      (3L, Array(0.0, 1.0, 0.0)),
      (4L, Array(-1.0, 0.0, 0.0))). // opposite of 1
      toDF("vec_id", "vec")
    val queries = vecs.where($"vec_id" === 1).select($"vec_id".as("qid"), $"vec".as("qvec"))
    val top = Embeddings.bruteForceTopK(vecs, "vec", "vec_id", queries, "qvec", "qid", 3)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(top.toSeq == Seq((1, 2L), (2, 3L), (3, 4L)))
    // exact cosine value check
    val sim = vecs.where($"vec_id" === 2).crossJoin(vecs.where($"vec_id" === 1).select($"vec".as("v2")))
      .select(Embeddings.cosine($"vec", $"v2")).head().getDouble(0)
    assert(math.abs(sim - 0.9 / math.sqrt(0.82)) < 1e-12)
  }

  test("multimodal: frame sampling emits one row per frame at the target fps") {
    val sps = spark; import sps.implicits._
    val df = Seq((1L, "video-payload".getBytes("UTF-8"))).toDF("media_id", "payload")
    val decoded = Multimodal.decodeAndFeaturize(df, "media_id", "payload", "video", 4)
    val durMs = decoded.select($"meta.duration_ms").head().getLong(0)
    val frames = Multimodal.sampleFrames(decoded, fps = 2.0).collect()
    val expected = math.max(1L, (durMs / 1000.0 * 2.0).toLong)
    assert(frames.length.toLong == expected)
    val ts = frames.map(_.getAs[Long]("frame_ts_ms")).sorted
    assert(ts.head == 0L && ts.forall(_ < durMs + 500))
    assert(ts.toSeq == ts.toSeq.distinct, "frame timestamps must be distinct")
  }

  test("multimodal: real nearest-neighbor resize replays the index arithmetic") {
    val sps = spark; import sps.implicits._
    val ids = (0L to 30L).toDF("doc_id")
    val png = Multimodal.synthesizePngPayloads(ids, "doc_id")
    val small = Multimodal.resizePayloads(png, "media_id", "payload", maxSide = 6)
    val decoded = Multimodal.decodeAndFeaturize(small, "media_id", "payload", "image", 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    (0L to 30L).foreach { id =>
      val (w, h) = ((8 + id % 9).toInt, (8 + (id / 9) % 9).toInt)
      val scale = math.min(1.0, 6.0 / math.max(w, h))
      val (tw, th) = (math.min(6, math.ceil(w * scale).toInt),
        math.min(6, math.ceil(h * scale).toInt))
      val meta = decoded(id).getStruct(1)
      assert(meta.getInt(1) == tw && meta.getInt(2) == th, s"id=$id dims")
      val expected = (for (y <- 0 until th; x <- 0 until tw; c <- 0 until 3)
        yield (id * 31 + (x * w / tw) * 7 + (y * h / th) * 13 + c * 101) % 256).sum
      assert(decoded(id).getSeq[Float](2).head.toLong == expected, s"id=$id pixels")
    }
    // a payload already within maxSide passes through unresized; junk
    // bytes pass through untouched
    val tiny = Multimodal.resizePayloads(png, "media_id", "payload", maxSide = 100)
    val dims = Multimodal.decodeAndFeaturize(tiny, "media_id", "payload", "image", 4)
      .select(col("meta.width")).collect().map(_.getInt(0))
    assert(dims.toSet == (8 to 16).toSet.intersect(dims.toSet) && dims.max > 6)
    val junk = Seq((9L, "not png".getBytes("UTF-8"))).toDF("media_id", "payload")
    val out = Multimodal.resizePayloads(junk, "media_id", "payload", 6).head()
    assert(new String(out.getAs[Array[Byte]](1), "UTF-8") == "not png")
  }

  test("multimodal: a failed GIF encode does not poison the pooled writer") {
    import Multimodal.VideoCodec
    val good = VideoCodec.grayFrame(4, 4)((x, y) => x + y)
    // a TYPE_INT_RGB frame has no IndexColorModel: the local-color-table
    // build throws mid-sequence on this thread's pooled writer
    val bad = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    intercept[Exception] { VideoCodec.encodeGif(Seq(bad), 10) }
    // the same thread's next encode must still produce a decodable clip
    val clip = VideoCodec.decodeGif(VideoCodec.encodeGif(Seq(good, good), 10))
    assert(clip != null && clip.frameCount == 2 && clip.delaysCs.toSeq == Seq(10, 10))
  }

  test("multimodal: real GIF round-trip is lossless, timed, batch-size-invariant") {
    val sps = spark; import sps.implicits._
    val ids = (0L to 40L).toDF("doc_id")
    val gif = Multimodal.synthesizeGifPayloads(ids, "doc_id")
    val a = Multimodal.decodeAndFeaturize(gif, "media_id", "payload", "video", 8)
      .collect().map(r => r.getLong(0) -> r).toMap
    val b = Multimodal.decodeAndFeaturize(gif.repartition(5), "media_id", "payload", "video", 8)
      .collect().map(r => r.getLong(0) -> r).toMap
    (0L to 40L).foreach { id =>
      val (w, h, n, delay) = ((6 + id % 5).toInt, (6 + (id / 5) % 5).toInt,
        (2 + id % 4).toInt, (20 + (id % 5) * 10).toInt)
      val meta = a(id).getStruct(1)
      assert(meta.getInt(1) == w && meta.getInt(2) == h && meta.getInt(3) == 1)
      // duration comes from the per-frame GCE delays read back from the stream
      assert(meta.getLong(4) == n.toLong * delay * 10,
        s"id=$id duration=${meta.getLong(4)} want=${n.toLong * delay * 10}")
      // decoded-pixel sum equals the generator formula exactly (lossless)
      val expected = (for (f <- 0 until n; y <- 0 until h; x <- 0 until w)
        yield ((id * 31 + f * 29 + x * 7 + y * 13) % 256)).sum
      assert(a(id).getSeq[Float](2).head.toLong == expected, s"id=$id")
      assert(a(id).getSeq[Float](2) == b(id).getSeq[Float](2), "batch/partition invariance")
    }
    // junk bytes are not a GIF: zeroed meta and features, no task failure
    val junk = Seq((9L, "not a gif".getBytes("UTF-8"))).toDF("media_id", "payload")
    val z = Multimodal.decodeAndFeaturize(junk, "media_id", "payload", "video", 8).head()
    assert(z.getStruct(1).getInt(1) == 0 && z.getSeq[Float](2).forall(_ == 0f))
  }

  test("cosine exact: blocked kernel is bit-equal to the self-join form") {
    val sps = spark; import sps.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (1L to 300L).map(i => (i, Array.fill(16)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "vec")
    def norm(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val blocked = Embeddings.cosineNearDuplicatesExact(vecs, "vec", "vec_id", 0.3,
        allowBruteForce = true)
      .collect().map(norm).sortBy(x => (x._1, x._2))
    val joined = Embeddings.cosineNearDuplicatesExactJoin(vecs, "vec", "vec_id", 0.3)
      .collect().map(norm).sortBy(x => (x._1, x._2))
    assert(blocked.nonEmpty && blocked.sameElements(joined))
    // the quadratic path is opt-in ONLY: the default reach must refuse
    // and point at the LSH scale path
    val guard = intercept[IllegalArgumentException] {
      Embeddings.cosineNearDuplicatesExact(vecs, "vec", "vec_id", 0.3)
    }
    assert(guard.getMessage.contains("allowBruteForce"))
  }

  test("embeddings: lsh near-duplicate pairs find identical vectors") {
    val sps = spark; import sps.implicits._
    val vecs = Seq(
      (1L, Array(0.5, -0.25, 0.75)), (2L, Array(0.5, -0.25, 0.75)), // identical pair
      (3L, Array(-0.9, 0.4, -0.1)), (4L, Array(0.01, 0.99, 0.02))).toDF("vec_id", "vec")
    val pairs = Embeddings.cosineNearDuplicates(vecs, "vec", "vec_id", threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("funnel: ordered earliest chain, span cap, missing steps drop out") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val ev = spark.createDataFrame(Seq(
      // user 1 completes in order
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:05:00"), "click"),
      (1L, ts("2024-01-01 10:10:00"), "purchase"),
      // user 2: purchase BEFORE view/click — no ordered chain
      (2L, ts("2024-01-01 09:00:00"), "purchase"),
      (2L, ts("2024-01-01 10:00:00"), "view"),
      (2L, ts("2024-01-01 10:05:00"), "click"),
      // user 3: missing click
      (3L, ts("2024-01-01 10:00:00"), "view"),
      (3L, ts("2024-01-01 10:10:00"), "purchase"),
      // user 4 completes but outside the 1-hour cap
      (4L, ts("2024-01-01 10:00:00"), "view"),
      (4L, ts("2024-01-01 10:05:00"), "click"),
      (4L, ts("2024-01-01 12:00:00"), "purchase"))).toDF("user_id", "ts", "event_type")
    val done = Events.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), maxSpanUs = 3600000000L)
      .select("user").collect().map(_.getLong(0)).sorted
    assert(done.sameElements(Array(1L)), done.mkString(","))
    // greedy earliest chain is optimal: a later same-step event still
    // enables the next step when the earliest one does not... (user 5:
    // click at 9:50 before view, click again at 10:05 after)
    val ev5 = spark.createDataFrame(Seq(
      (5L, ts("2024-01-01 09:50:00"), "click"),
      (5L, ts("2024-01-01 10:00:00"), "view"),
      (5L, ts("2024-01-01 10:05:00"), "click"),
      (5L, ts("2024-01-01 10:10:00"), "purchase"))).toDF("user_id", "ts", "event_type")
    assert(Events.funnel(ev5, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase")).count() == 1L)
  }

  test("asof join: latest-at-or-before match, inclusive ties, tolerance, unmatched") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = spark.createDataFrame(Seq(
      (10L, 1L, ts("2024-01-01 10:00:00")), // matches r2 (exactly at ts — inclusive)
      (11L, 1L, ts("2024-01-01 10:30:00")), // matches r2 (still latest <=)
      (12L, 1L, ts("2024-01-01 09:00:00")), // before any right row -> null
      (13L, 2L, ts("2024-01-01 10:00:00"))  // key with no right rows -> null
    )).toDF("event_id", "user_id", "ts")
    val right = spark.createDataFrame(Seq(
      (1L, ts("2024-01-01 09:30:00"), 100L),
      (1L, ts("2024-01-01 10:00:00"), 200L)
    )).toDF("user_id", "ts", "click_id")
    val out = Events.asofJoin(left, right, Seq("user_id"), "ts", "ts", Seq("click_id"))
      .select("event_id", "click_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted
    assert(out.toSeq == Seq((10L, 200L), (11L, 200L), (12L, -1L), (13L, -1L)), out.mkString(","))
    // tolerance: 11 is 30min after r2 — a 10-minute tolerance voids it
    val tol = Events.asofJoin(left, right, Seq("user_id"), "ts", "ts",
        Seq("click_id"), toleranceUs = Some(600000000L))
      .select("event_id", "click_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted
    assert(tol.toSeq == Seq((10L, 200L), (11L, -1L), (12L, -1L), (13L, -1L)), tol.mkString(","))
    // right-side tie at the same (key, ts): rightOrderCols picks the LAST
    val right2 = right.union(spark.createDataFrame(Seq(
      (1L, ts("2024-01-01 10:00:00"), 150L))).toDF("user_id", "ts", "click_id"))
    val tie = Events.asofJoin(left.where(col("event_id") === 10L), right2,
        Seq("user_id"), "ts", "ts", Seq("click_id"), rightOrderCols = Seq("click_id"))
      .select("click_id").collect().map(_.getLong(0))
    assert(tie.toSeq == Seq(200L), tie.mkString(","))
  }

  test("round-9 edge paths: pq dim guards, ewma empty/single, url host edges") {
    val sps = spark; import sps.implicits._
    // pqCodebooks: dim not divisible by m fails fast with the dims named
    val vecs = Seq((1L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "vec")
    val e = intercept[IllegalArgumentException] {
      Embeddings.pqCodebooks(vecs, "vec", "vec_id", m = 2, ksub = 1)
    }
    assert(e.getMessage.contains("dim 3"), e.getMessage)
    // pqEncode: wrong-length vector fails with both lengths named
    val cb = Embeddings.pqCodebooks(
      Seq((1L, Seq(1.0, 2.0))).toDF("vec_id", "vec"), "vec", "vec_id", 1, 1)
    val err = intercept[Exception] {
      Seq(Tuple1(Seq(1.0, 2.0, 3.0))).toDF("vec")
        .select(Embeddings.pqEncode(col("vec"), cb)).collect()
    }
    assert(err.getMessage.contains("3") && err.getMessage.contains("2"))
    // ewma: empty input -> empty output; single row seeds itself, dev 0
    import java.sql.Timestamp
    val empty = Seq.empty[(Long, Timestamp, Double)].toDF("k", "ts", "v")
    assert(Events.ewmaSmooth(empty, "k", "ts", "v", 500000L).count() == 0L)
    val one = Seq((5L, Timestamp.valueOf("2024-01-01 00:00:00"), 2.5)).toDF("k", "ts", "v")
    val r = Events.ewmaSmooth(one, "k", "ts", "v", 500000L).collect().head
    assert(r.getLong(3) == 2500000L && r.getLong(4) == 0L)
    // url host edges: no path, port without path (userinfo/IPv6 cases
    // live in the CurationOpsSpec contract test)
    val hosts = Seq("https://A.B.com", "http://x.y:8080", "https://q.r/only/path")
      .toDF("u").select(UrlOps.hostOf(col("u"))).collect().map(_.getString(0))
    assert(hosts.toSeq == Seq("a.b.com", "x.y", "q.r"), hosts.mkString(","))
  }

  test("ewmaSmooth: integer recursion by hand, first-row seed, trunc-div sign") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val df = spark.createDataFrame(Seq(
      (1L, ts("2024-01-01 10:00:00"), 4.0),
      (1L, ts("2024-01-01 10:01:00"), 2.0),
      (1L, ts("2024-01-01 10:02:00"), 3.0),
      (2L, ts("2024-01-01 10:00:00"), 7.0)
    )).toDF("k", "ts", "v")
    val out = Events.ewmaSmooth(df, "k", "ts", "v", alphaPpm = 500000L)
      .orderBy("k", "us").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    // key 1: e=[4e6, (2+4)/2=3e6, (3+3)/2=3e6], dev=[0, -2e6, 0]
    assert(out.toSeq == Seq(
      (1L, 4000000L, 4000000L, 0L),
      (1L, 2000000L, 3000000L, -2000000L),
      (1L, 3000000L, 3000000L, 0L),
      (2L, 7000000L, 7000000L, 0L)), out.mkString(","))
    // truncating div toward ZERO on a negative ewma: e2 = -500000/1e6 -> 0
    val neg = spark.createDataFrame(Seq(
      (9L, ts("2024-01-01 10:00:00"), -0.000001),
      (9L, ts("2024-01-01 10:01:00"), 0.0)
    )).toDF("k", "ts", "v")
    val e2 = Events.ewmaSmooth(neg, "k", "ts", "v", 500000L)
      .orderBy("us").collect().map(_.getLong(3))
    assert(e2.toSeq == Seq(-1L, 0L), s"trunc-div drift: ${e2.toSeq}")
  }

  test("ewmaSmooth: overflow domain — boundary folds exactly, beyond it raises") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // |value| = 9.2e6 natural units -> v_e6 = 9.2e12, inside the
    // floor(Long.MaxValue/1e6) = 9223372036854 bound: alpha*v at
    // alpha=1e6 is 9.2e18 < Long.MaxValue — folds without wrap
    val big = spark.createDataFrame(Seq(
      (1L, ts("2024-01-01 10:00:00"), 9200000.0),
      (1L, ts("2024-01-01 10:01:00"), -9200000.0)
    )).toDF("k", "ts", "v")
    val ok = Events.ewmaSmooth(big, "k", "ts", "v", 500000L)
      .orderBy("us").collect().map(_.getLong(3))
    assert(ok.toSeq == Seq(9200000000000L, 0L), ok.mkString(","))
    // 9.3e6 natural units -> v_e6 = 9.3e12 > bound: raises at the scan
    // instead of silently wrapping identically in every engine
    val over = spark.createDataFrame(Seq(
      (1L, ts("2024-01-01 10:00:00"), 9300000.0))).toDF("k", "ts", "v")
    val err = intercept[Exception] {
      Events.ewmaSmooth(over, "k", "ts", "v", 500000L).collect()
    }
    assert(err.getMessage.contains("exact-recursion domain"), err.getMessage)
    // NULL values keep the legacy pass-through path (no raise)
    val withNull = spark.createDataFrame(Seq(
      (1L, ts("2024-01-01 10:00:00"), java.lang.Double.valueOf(2.0)),
      (1L, ts("2024-01-01 10:01:00"), null.asInstanceOf[java.lang.Double])
    )).toDF("k", "ts", "v")
    assert(Events.ewmaSmooth(withNull, "k", "ts", "v", 500000L).count() == 2L)
    // the clamp bypass: with ANSI off, -1e13 would cast-clamp to
    // Long.MinValue whose abs wraps negative and slips a post-cast
    // check — the guard tests the DOUBLE, so it still raises
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val clamp = spark.createDataFrame(Seq(
        (1L, ts("2024-01-01 10:00:00"), -1e13))).toDF("k", "ts", "v")
      val e3 = intercept[Exception] {
        Events.ewmaSmooth(clamp, "k", "ts", "v", 500000L).collect()
      }
      assert(e3.getMessage.contains("exact-recursion domain"), e3.getMessage)
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
  }

  test("ewmaSmooth: maxKeyHistory drops hot keys fail-soft with telemetry") {
    import java.sql.Timestamp
    def ts(i: Int) = Timestamp.valueOf(f"2024-01-01 10:00:$i%02d")
    val df = spark.createDataFrame(
      (1 to 5).map(i => (1L, ts(i), i.toDouble)) ++ // hot key: 5 points
        (1 to 2).map(i => (2L, ts(i), i.toDouble))  // cold key: 2 points
    ).toDF("k", "ts", "v")
    // uncapped: all 7 rows; capped at 3: the hot key is DROPPED whole
    assert(Events.ewmaSmooth(df, "k", "ts", "v", 500000L).count() == 7L)
    val capped = Events.ewmaSmooth(df, "k", "ts", "v", 500000L, maxKeyHistory = 3)
    val run = Telemetry.runs("graft_ewma_keys").last
    val rows = capped.collect()
    assert(rows.map(_.getLong(0)).toSet == Set(2L), rows.mkString(","))
    // the run record is read with AQE on (the session default)
    assert(run.dropped.value == 1L)
    assert(run.max.value == 5L)
  }

  test("asof join forward: earliest-at-or-after, inclusive, tolerance, tie policy") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = spark.createDataFrame(Seq(
      (10L, 1L, ts("2024-01-01 10:00:00")), // matches r2 exactly at ts (inclusive)
      (11L, 1L, ts("2024-01-01 09:00:00")), // earliest AFTER -> r1 (09:30)
      (12L, 1L, ts("2024-01-01 11:00:00")), // after every right row -> null
      (13L, 2L, ts("2024-01-01 10:00:00"))  // key with no right rows -> null
    )).toDF("event_id", "user_id", "ts")
    val right = spark.createDataFrame(Seq(
      (1L, ts("2024-01-01 09:30:00"), 100L),
      (1L, ts("2024-01-01 10:00:00"), 200L)
    )).toDF("user_id", "ts", "click_id")
    def run(df: org.apache.spark.sql.DataFrame, tolUs: Option[Long] = None) =
      Events.asofJoin(left, df, Seq("user_id"), "ts", "ts", Seq("click_id"),
          toleranceUs = tolUs, direction = "forward")
        .select("event_id", "click_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted
    assert(run(right).toSeq ==
      Seq((10L, 200L), (11L, 100L), (12L, -1L), (13L, -1L)))
    // 11 is 30min before r1 — a 10-minute forward tolerance voids it
    assert(run(right, Some(600000000L)).toSeq ==
      Seq((10L, 200L), (11L, -1L), (12L, -1L), (13L, -1L)))
    // same-(key, ts) right tie: the LAST in rightOrderCols order wins
    val right2 = right.union(spark.createDataFrame(Seq(
      (1L, ts("2024-01-01 10:00:00"), 150L))).toDF("user_id", "ts", "click_id"))
    val tie = Events.asofJoin(left.where(col("event_id") === 10L), right2,
        Seq("user_id"), "ts", "ts", Seq("click_id"),
        rightOrderCols = Seq("click_id"), direction = "forward")
      .select("click_id").collect().map(_.getLong(0))
    assert(tie.toSeq == Seq(200L), tie.mkString(","))
  }

  test("unigram logprob: exact micro-unit sums, OOV floor, empty docs") {
    val docs = spark.createDataFrame(Seq(
      (1L, "a a b"), (2L, "b"), (3L, "")
    )).toDF("doc_id", "text")
    // self-trained: p(a)=2/4, p(b)=2/4
    val lpHalf = math.round(math.log(2.0 / 4.0) * 1e6)
    val out = Ranking.unigramLogProb(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L)._1 == 3L && out(1L)._2 == 3 * lpHalf, out(1L).toString)
    assert(out(2L)._1 == 1L && out(2L)._2 == lpHalf)
    assert(out(3L) == ((0L, 0L, 0.0)))
    // bits/token of a p=1/2 unigram stream is exactly ~1 bit
    assert(math.abs(out(1L)._3 - 1.0) < 1e-4, out(1L)._3.toString)
    // external LM: token 'z' is OOV -> add-one floor ln(1/(total+1))
    val lm = spark.createDataFrame(Seq(("a", 3L), ("b", 1L))).toDF("token", "cnt")
    val floor = math.round(math.log(1.0 / 5.0) * 1e6)
    val ext = Ranking.unigramLogProb(
        spark.createDataFrame(Seq((9L, "z a"))).toDF("doc_id", "text"),
        "text", "doc_id", lm = Some(lm))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ext(9L) == floor + math.round(math.log(3.0 / 4.0) * 1e6), ext.toString)
  }

  test("repeatedSpanRanges: any-alignment detection, range merge, minCount") {
    val sps = spark; import sps.implicits._
    // the 4-token phrase repeats at DIFFERENT offsets (1 vs 3) — the
    // aligned-grid span dedup misses this; sliding windows must not
    val docs = Seq(
      (1L, "x p q r s tail1 tail2"),
      (2L, "a b p q r s end")
    ).toDF("doc_id", "text")
    val r = Dedup.repeatedSpanRanges(docs, "text", "doc_id", spanTokens = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(r == Seq((1L, 1L, 5L, 1L), (2L, 2L, 6L, 1L)), r.toString)
    // overlapping hot windows merge into ONE maximal range
    val rep = Seq(
      (1L, "c1 u v w x y z c2"),
      (2L, "u v w x y z other words here")
    ).toDF("doc_id", "text")
    val m = Dedup.repeatedSpanRanges(rep, "text", "doc_id", spanTokens = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .sortBy(_._1).toSeq
    // 6-token run "u v w x y z" = 3 hot 4-windows each doc, merged
    assert(m == Seq((1L, 1L, 7L, 3L), (2L, 0L, 6L, 3L)), m.toString)
    // below minCount nothing is flagged
    assert(Dedup.repeatedSpanRanges(docs, "text", "doc_id", 4, minCount = 3).count() == 0L)
    // a within-doc self-repeat counts toward minCount
    val self = Seq((1L, "m n o p junk m n o p")).toDF("doc_id", "text")
    val sr = Dedup.repeatedSpanRanges(self, "text", "doc_id", spanTokens = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq.sorted
    assert(sr == Seq((1L, 0L, 4L), (1L, 5L, 9L)), sr.toString)
    // fast (xxhash64) and portable (md5) keys flag identical ranges
    val fast = Dedup.repeatedSpanRanges(rep, "text", "doc_id", 4)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).sorted.toSeq
    val port = Dedup.repeatedSpanRanges(rep, "text", "doc_id", 4, portable = true)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).sorted.toSeq
    assert(fast == port)
  }

  test("span dedup: corpus-wide removal, keep-first winner, empty-doc survival") {
    // span width 2: doc 1 = [a b][c d], doc 2 = [a b][x y], doc 3 = [a b]
    val docs = spark.createDataFrame(Seq(
      (1L, "a b c d"), (2L, "a b x y"), (3L, "a b"), (4L, "")
    )).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateSpans(docs, "text", "doc_id",
        spanTokens = 2, minCount = 2, keepFirst = true)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // "a b" occurs 3x: doc 1 (smallest packed id) keeps it, docs 2/3 lose it
    assert(out(1L) == (("a b c d", 2L, 0L)), out(1L).toString)
    assert(out(2L) == (("x y", 2L, 1L)), out(2L).toString)
    assert(out(3L) == (("", 1L, 1L)), out(3L).toString)
    assert(out(4L) == (("", 0L, 0L)), out(4L).toString)
    // keepFirst = false removes every copy
    val all = Dedup.dropDuplicateSpans(docs, "text", "doc_id",
        spanTokens = 2, minCount = 2, keepFirst = false)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(all(1L) == "c d" && all(2L) == "x y" && all(3L) == "")
  }

  test("kmeans: Lloyd round separates obvious clusters; ties to smallest cid") {
    // two tight direction bundles; seeds (first 2 by id) land one in each
    val vecs = spark.createDataFrame(Seq(
      (1L, Seq(1.0, 0.0, 0.1)), (2L, Seq(0.0, 1.0, 0.1)),
      (3L, Seq(0.9, 0.1, 0.1)), (4L, Seq(0.1, 0.9, 0.1)),
      (5L, Seq(1.0, 0.1, 0.0)), (6L, Seq(0.1, 1.0, 0.0))
    )).toDF("vec_id", "vec")
    val out = Embeddings.kmeansLloyd(vecs, "vec", "vec_id", k = 2, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1L && out(3L) == 1L && out(5L) == 1L, out.toString)
    assert(out(2L) == 2L && out(4L) == 2L && out(6L) == 2L, out.toString)
    // iterations = 0 is the pure seed assignment and k=1 is total
    val one = Embeddings.kmeansLloyd(vecs, "vec", "vec_id", k = 1, iterations = 0)
      .select("cid").distinct().collect().map(_.getLong(0))
    assert(one.toSeq == Seq(1L))
    // trained centroids feed ivfTopK and are the exact per-cluster means
    val cents = Embeddings.kmeansCentroids(vecs, "vec", "vec_id", k = 2, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(cents.keySet == Set(1L, 2L))
    // cluster 1 members are vecs 1/3/5 with dim-0 values 1.0, 0.9, 1.0
    assert(math.abs(cents(1L).head -
      (math.round(1.0 * 1e6) + math.round(0.9 * 1e6) + math.round(1.0 * 1e6)).toDouble
        / (3.0 * 1e6)) < 1e-12, cents(1L).toString)
    val ivf = Embeddings.ivfTopK(vecs, "vec", "vec_id",
      vecs.where(col("vec_id") === 1L).select(col("vec_id").as("qid"), col("vec").as("qvec")),
      "qvec", "qid", k = 2, nlist = 2, nprobe = 1,
      centroids = Some(Embeddings.kmeansCentroids(vecs, "vec", "vec_id", 2, 2)
        .select(col("cid"), col("cvec"))))
    assert(ivf.count() == 2L)
  }

  test("centroid outliers: farthest members rank first, per cluster, capped at m") {
    // cluster 1 bundle along e0 with one off-axis straggler (id 7); cluster
    // 2 tight along e1
    val vecs = spark.createDataFrame(Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (3L, Seq(0.98, 0.02, 0.0)),
      (5L, Seq(0.99, 0.01, 0.0)), (7L, Seq(0.6, 0.0, 0.8)),
      (2L, Seq(0.0, 1.0, 0.0)), (4L, Seq(0.0, 0.99, 0.01))
    )).toDF("vec_id", "vec")
    val out = Embeddings.centroidOutliers(vecs, "vec", "vec_id", k = 2,
        iterations = 1, m = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // exactly m rows per cluster, ranks 1..m
    assert(out.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._2).sorted.toSeq == Seq(1, 2) })
    // the off-axis straggler is its cluster's #1 outlier
    val c1 = out.filter(_._1 == 1L).minBy(_._2)
    assert(c1._3 == 7L, out.mkString(", "))
    // ranks follow ascending similarity within each cluster
    out.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sorted.toSeq)
    }
    // m larger than the cluster just returns every member
    val all = Embeddings.centroidOutliers(vecs, "vec", "vec_id", k = 2,
      iterations = 1, m = 100)
    assert(all.count() == 6L)
    // a NULL vector is assigned the smallest cid with a NULL similarity,
    // which ranks first (ascending order puts NULL first)
    val withNull = vecs.union(spark.createDataFrame(Seq((9L, null: Seq[Double])))
      .toDF("vec_id", "vec"))
    val nullRow = Embeddings.centroidOutliers(withNull, "vec", "vec_id", k = 2,
        iterations = 1, m = 2)
      .where(col("vec_id") === 9L).collect()
    assert(nullRow.length == 1, nullRow.mkString(", "))
    assert(nullRow.head.getLong(0) == 1L && nullRow.head.getInt(1) == 1 &&
      nullRow.head.isNullAt(3), nullRow.mkString(", "))
  }

  test("knn label consistency: clustered labels agree, shuffled labels near chance") {
    val s = spark
    import s.implicits._
    // two tight direction bundles with matching labels: 1-NN agreement
    // should be perfect within bundles
    val rows = (0 until 20).map { i =>
      val bundle = i % 2
      val base = if (bundle == 0) Seq(1.0, 0.0, 0.0) else Seq(0.0, 1.0, 0.0)
      (i.toLong, bundle.toString, base.map(_ + (i / 2) * 1e-4))
    }
    val emb = rows.toDF("vec_id", "label", "vec")
    val q = emb.select(col("vec_id").as("qid"), col("vec").as("qvec"),
      col("label").as("qlabel"))
    val out = Embeddings.knnLabelConsistency(emb, "vec", "vec_id", "label",
        q, "qvec", "qid", "qlabel", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(out.map(t => (t._1, t._2, t._3)) == Seq(("0", 10L, 30L), ("1", 10L, 30L)))
    assert(out.forall(t => t._4 == t._3), s"within-bundle neighbors must agree: $out")
  }

  test("semdedup: drops same-cluster near-duplicates, keeps first copy") {
    // cluster A: ids 1/3/5 nearly parallel (sim ~1); cluster B: 2/4 parallel,
    // 6 orthogonal-ish to both B members but assigned to B's centroid side
    val vecs = spark.createDataFrame(Seq(
      (1L, Seq(1.0, 0.0, 0.1)), (2L, Seq(0.0, 1.0, 0.1)),
      (3L, Seq(0.99, 0.01, 0.1)), (4L, Seq(0.01, 0.99, 0.1)),
      (5L, Seq(1.0, 0.01, 0.09)), (6L, Seq(0.1, 1.0, 0.0))
    )).toDF("vec_id", "vec")
    val out = Embeddings.semanticDeduplicate(vecs, "vec", "vec_id",
        k = 2, threshold = 0.95, iterations = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // smallest id per ball survives; 3/5 duplicate 1, 4/6 duplicate 2
    assert(out(1L)._2 && out(2L)._2, out.toString)
    assert(!out(3L)._2 && !out(5L)._2, out.toString)
    assert(!out(4L)._2 && !out(6L)._2, out.toString)
    // members of different clusters are never compared: with a threshold
    // below every cross-cluster sim nothing else drops
    val loose = Embeddings.semanticDeduplicate(vecs, "vec", "vec_id",
        k = 2, threshold = 1.1, iterations = 2)
      .where(col("keep")).count()
    assert(loose == 6L) // impossible threshold keeps everything
    // reserved-name guard
    intercept[IllegalArgumentException] {
      Embeddings.semanticDeduplicate(vecs.withColumn("cid", lit(1L)),
        "vec", "vec_id", k = 2, threshold = 0.9)
    }
    // fail-soft skew cap: both 3-member clusters exceed the cap, so no
    // pairing happens and every member keeps (conservative, no drops)
    val capped = Embeddings.semanticDeduplicate(vecs, "vec", "vec_id",
        k = 2, threshold = 0.95, iterations = 2, maxClusterSize = 2)
    val run = Telemetry.runs("graft_semdedup_clusters").last
    assert(capped.where(col("keep")).count() == 6L)
    assert(run.dropped.value == 2L, "both clusters over the cap")
    assert(run.max.value == 3L)
  }

  test("feature-hash vectors: deterministic buckets, unit norm, zero-doc safe") {
    val sps = spark; import sps.implicits._
    // delta/omega/kappa land in DISTINCT md5 buckets at dim=16 (1, 4, 2 —
    // verified against python md5), so per-token counts stay separable
    val docs = Seq(
      (1L, "delta omega delta"), // delta counted twice
      (2L, "delta omega delta"), // identical text => identical vector
      (3L, "kappa"),
      (4L, "")                   // no tokens => zero vector
    ).toDF("doc_id", "text")
    val out = Embeddings.featureHashVectors(docs, "text", "doc_id", dim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out(1L) == out(2L)) // pure function of text
    assert(out(1L).size == 16 && out(1L).count(_ != 0.0) == 2) // delta+omega buckets
    // unit norm; the 2:1 count ratio survives normalization
    assert(math.abs(math.sqrt(out(1L).map(x => x * x).sum) - 1.0) < 1e-12)
    assert(math.abs(out(1L).max / out(1L).filter(_ != 0.0).min - 2.0) < 1e-12)
    assert(out(4L).forall(_ == 0.0)) // zero vector, not NaN
    // un-normalized form carries raw counts
    val raw = Embeddings.featureHashVectors(docs, "text", "doc_id", 16, normalize = false)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(raw(1L).sum == 3.0 && raw(1L).max == 2.0)
    // composes with the similarity stack: identical docs are each other's
    // top cosine neighbor
    val vecs = Embeddings.featureHashVectors(docs, "text", "doc_id", 16)
      .withColumn("vec", col("vec").cast("array<float>"))
    val top = Embeddings.bruteForceTopK(vecs.where(col("doc_id") =!= 4L), "vec", "doc_id",
      vecs.where(col("doc_id") === 1L).select(col("doc_id").as("qid"), col("vec").as("qvec")),
      "qvec", "qid", k = 2)
    val best = top.orderBy(col("rank")).collect()
    assert(best.exists(r => r.getLong(2) == 2L)) // doc 2 in the top-2
  }

  test("contamination score: exact per-doc shingle overlap, filter only prunes") {
    val sps = spark; import sps.implicits._
    val held = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox sleeps"),   // shingles: 3 total, 2 in held
      (2L, "totally different words here"), // 0 contaminated
      (3L, "tiny doc")                      // < 3 tokens: no output row
    ).toDF("doc_id", "text")
    for (portable <- Seq(false, true)) {
      val out = Dedup.contaminationScore(corpus, held, "text", "doc_id",
          shingleSize = 3, portable = portable)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
      assert(out.keySet == Set(1L, 2L), s"portable=$portable: $out")
      assert(out(1L)._1 == 3L && out(1L)._2 == 2L, s"portable=$portable: $out")
      assert(math.abs(out(1L)._3 - 2.0 / 3.0) < 1e-12)
      assert(out(2L) == ((2L, 0L, 0.0)), s"portable=$portable: $out")
    }
    // empty held-out set: NULL filter blob, zero candidates, all exact 0
    val none = Dedup.contaminationScore(corpus,
        held.where(col("doc_id") === -1L), "text", "doc_id")
      .agg(sum("contaminated")).head().getLong(0)
    assert(none == 0L)
  }

  test("incremental semdedup: old wins, new-vs-new to smaller id, old never paired") {
    val sps = spark; import sps.implicits._
    val oldE = Seq(
      (1L, Seq(1.0, 0.0, 0.05)), (2L, Seq(0.0, 1.0, 0.05)),
      (3L, Seq(0.95, 0.05, 0.05))).toDF("vec_id", "vec")
    val newE = Seq(
      (11L, Seq(0.99, 0.01, 0.05)), // dup of OLD 1 -> drops
      (12L, Seq(0.05, 1.0, 0.0)),   // dup of OLD 2 -> drops
      (14L, Seq(0.0, 0.02, 1.0)),   // genuinely new direction -> keeps
      (15L, Seq(0.01, 0.02, 1.0))   // dup of NEW 14 (smaller id) -> drops
    ).toDF("vec_id", "vec")
    val out = Embeddings.incrementalSemanticDeduplicate(newE, oldE,
        "vec", "vec_id", k = 2, threshold = 0.95, iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // only the NEW slice comes back
    assert(out.keySet == Set(11L, 12L, 14L, 15L), out.toString)
    assert(!out(11L) && !out(12L), out.toString)
    assert(out(14L), out.toString) // new direction survives
    assert(!out(15L), out.toString) // loses to smaller-id new twin
    // old-vs-old near-dups (1 vs 3, sim ~0.996) must NOT affect anything:
    // rerunning with ONLY those as input slices proves no old drops ever
    val none = Embeddings.incrementalSemanticDeduplicate(
        newE.where(col("vec_id") === 14L), oldE, "vec", "vec_id",
        k = 2, threshold = 0.95)
      .where(!col("keep")).count()
    assert(none == 0L)
    // fail-soft cap on the COMBINED cluster size: every cluster here holds
    // old+new members over the cap, so nothing pairs and every new keeps
    val capped = Embeddings.incrementalSemanticDeduplicate(newE, oldE,
        "vec", "vec_id", k = 2, threshold = 0.95, maxClusterSize = 1)
      .where(col("keep")).count()
    assert(capped == 4L)
  }

  test("kmeans assignment: broadcast path bit-matches the literal path") {
    val sps = spark; import sps.implicits._
    // near-tie fixture: centroids 1 and 2 are IDENTICAL directions, so
    // every vector ties between them at full precision and the rounded
    // argmax must break to cid 1 on both paths; centroid 3 is distinct.
    val cents = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(2.0, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0)))
    val vecs = (1 to 50).map { i =>
      val a = i / 50.0
      (i.toLong, Seq(math.cos(a), math.sin(a), a / 7.0))
    }.toDF("vec_id", "vec")
    val lit0 = Embeddings.kmeansAssign(vecs, "vec", cents)
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bc = Embeddings.kmeansAssign(vecs, "vec", cents, forceBroadcast = true)
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lit0 == bc, s"paths diverge: ${lit0.toSeq.sorted} vs ${bc.toSeq.sorted}")
    assert(bc.values.toSet.subsetOf(Set(1L, 3L))) // ties never pick cid 2
    // float input dispatches the float getter on both paths
    val fvecs = vecs.withColumn("vec", col("vec").cast("array<float>"))
    val litF = Embeddings.kmeansAssign(fvecs, "vec", cents)
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bcF = Embeddings.kmeansAssign(fvecs, "vec", cents, forceBroadcast = true)
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(litF == bcF)
    // degenerate inputs: a null element (or null vector) nulls every sim,
    // and BOTH paths tie-break to the smallest cid (non-null assignment)
    val degen = Seq(1L).toDF("vec_id")
      .withColumn("vec", expr("array(1.0, cast(null as double), 0.0)"))
      .union(Seq(2L).toDF("vec_id").withColumn("vec", expr("cast(null as array<double>)")))
    val litD = Embeddings.kmeansAssign(degen, "vec", cents)
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bcD = Embeddings.kmeansAssign(degen, "vec", cents, forceBroadcast = true)
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(litD == Map(1L -> 1L, 2L -> 1L), litD.toString)
    assert(bcD == litD, s"null handling diverges: $litD vs $bcD")
    // a k > AssignLiteralMaxK end-to-end run goes down the broadcast path
    val many = (1 to 200).map(i =>
      (i.toLong, Seq(math.sin(i * 0.7), math.cos(i * 1.3), math.sin(i * 2.1 + 1)))).toDF("vec_id", "vec")
    val out = Embeddings.semanticDeduplicate(many, "vec", "vec_id",
      k = 100, threshold = 0.999)
    assert(out.count() == 200L)
    assert(out.where(col("keep")).count() <= 200L)
  }

  test("pq: codebook slicing, encode argmin, integer ADC, heap ranking") {
    val sps = spark; import sps.implicits._
    // dim 4, m 2 (subspaces of 2), ksub 2: codebooks from ids 1..2
    val vecs = Seq(
      (1L, Seq(0.0, 0.0, 10.0, 10.0)),
      (2L, Seq(5.0, 5.0, 0.0, 0.0)),
      (3L, Seq(0.1, 0.1, 0.2, 0.1)),   // sub0 -> code 0 (id1), sub1 -> code 1 (id2)
      (4L, Seq(4.9, 5.2, 9.8, 10.1)),  // sub0 -> code 1,       sub1 -> code 0
      (5L, Seq(2.5, 2.5, 5.0, 5.0))    // equidistant ties -> smaller index 0
    ).toDF("vec_id", "vec")
    val cb = Embeddings.pqCodebooks(vecs, "vec", "vec_id", m = 2, ksub = 2)
    assert(cb.length == 2 && cb(0).length == 2 && cb(0)(0).toSeq == Seq(0.0, 0.0))
    assert(cb(1)(0).toSeq == Seq(10.0, 10.0) && cb(1)(1).toSeq == Seq(0.0, 0.0))
    val codes = vecs.select(col("vec_id"), Embeddings.pqEncode(col("vec"), cb).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(codes(1L) == Seq(0, 0) && codes(2L) == Seq(1, 1))
    assert(codes(3L) == Seq(0, 1) && codes(4L) == Seq(1, 0))
    // exact tie (2.5,2.5) between (0,0) and (5,5): 12.5 vs 12.5 -> index 0
    assert(codes(5L) == Seq(0, 0), s"tie must break to the smaller index: ${codes(5L)}")
    // ADC by hand: query = vec 3, candidate 4 has codes (1, 0):
    // sub0 dist = (0.1-5)^2+(0.1-5)^2, sub1 dist = (0.2-10)^2+(0.1-10)^2
    val q = vecs.where(col("vec_id") === 3L)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val out = Embeddings.pqTopK(vecs, "vec", "vec_id", q, "qvec", "qid",
        k = 4, m = 2, ksub = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    def e6(x: Double) = java.math.BigDecimal.valueOf(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val want4 = e6(math.pow(0.1 - 5, 2) + math.pow(0.1 - 5, 2)) +
      e6(math.pow(0.2 - 10, 2) + math.pow(0.1 - 10, 2))
    assert(out.find(_._2 == 4L).map(_._3).contains(want4),
      s"hand ADC mismatch: $out want $want4")
    // candidate 1 codes (0,0): sub1 centroid (10,10) -> big distance;
    // candidate 2 codes (1,1): sub0 (5,5), sub1 (0,0) -> nearest overall
    assert(out.minBy(_._1)._2 == 2L, out.mkString(","))
    // the scan side of the plan projects codes, never the raw vectors:
    // no Window, ranking is the bounded-heap aggregate
    val plan = Embeddings.pqTopK(vecs, "vec", "vec_id", q, "qvec", "qid",
      k = 2, m = 2, ksub = 2).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("assignSequential: dense 0..n-1, order-determined, partition-count invariant") {
    val sps = spark; import sps.implicits._
    val df = (1 to 500).map(i => ((i * 7919) % 1000L, s"g${i % 3}")).toDF("k", "g")
    def ids(p: Int) = Ids.assignSequential(df, Seq("g", "k"), partitions = p)
      .collect().map(r => (r.getString(1), r.getLong(0)) -> r.getLong(2)).toMap
    val a = ids(3)
    assert(a.values.toSeq.sorted == (0L until 500L).toSeq, "ids not dense 0..n-1")
    // id == global rank under (g, k)
    val want = df.collect().map(r => (r.getString(1), r.getLong(0)))
      .sorted.zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap
    assert(a == want)
    // partitioning never changes an id
    assert(ids(1) == a && ids(13) == a)
    intercept[IllegalArgumentException] {
      Ids.assignSequential(df.withColumn("seq_id", lit(1)), Seq("k"))
    }
    // narrow mode (enumerate orderCols only, join ids back): identical
    // ids, identical schema, any partition count — the wide-table path
    val narrow = Ids.assignSequential(df, Seq("g", "k"), narrow = true)
    assert(narrow.columns.toSeq == Seq("k", "g", "seq_id"))
    assert(narrow.collect()
      .map(r => (r.getString(1), r.getLong(0)) -> r.getLong(2)).toMap == a)
    assert(Ids.assignSequential(df, Seq("g", "k"), partitions = 7, narrow = true)
      .collect().map(r => (r.getString(1), r.getLong(0)) -> r.getLong(2)).toMap == a)
    // NULL order keys: both modes keep the row and stay dense (the
    // narrow join is null-safe — a plain equi-join would drop it)
    val withNull = Seq((Option(5L), "g1"), (None, "g0"), (Option(2L), "g1"))
      .toDF("k", "g")
    def idsOf(nr: Boolean) = Ids.assignSequential(withNull, Seq("g", "k"), narrow = nr)
      .collect().map(r => (r.getString(1), Option(r.get(0))) -> r.getLong(2)).toMap
    val wide = idsOf(false)
    assert(wide.values.toSeq.sorted == Seq(0L, 1L, 2L), wide.toString)
    assert(idsOf(true) == wide, "narrow mode diverged on NULL keys")
  }

  test("evalReport: confusion counts, ppm metrics, degenerate thresholds, null audit") {
    val sps = spark; import sps.implicits._
    // scores: positives at .9/.6, negatives at .7/.2
    val df = Seq((0.9, 1.0), (0.6, 1.0), (0.7, 0.0), (0.2, 0.0)).toDF("s", "y")
    val out = Classify.evalReport(df, col("s"), col("y"), Seq(0.5, 0.95))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
         r.getLong(6), r.getLong(7), r.getLong(8))).toMap
    // t=0.5: tp=2 fp=1 fn=0 tn=1; precision 2/3, recall 1, f1 4/5
    assert(out(500000L) == ((2L, 1L, 0L, 1L, 0L, 666666L, 1000000L, 800000L)), out.toString)
    // t=0.95: nothing predicted positive -> precision 0-guarded
    assert(out(950000L) == ((0L, 0L, 2L, 2L, 0L, 0L, 0L, 0L)), out.toString)
    // NULL score/label rows land in NO bucket but ARE counted, so the
    // confusion totals stay auditable: tp+fp+fn+tn+null_rows == rows
    val withNulls = Seq(
      (Option(0.9), Option(1.0)), (None, Option(0.0)), (Option(0.4), None)
    ).toDF("s", "y")
    val r = Classify.evalReport(withNulls, col("s"), col("y"), Seq(0.5))
      .collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) == ((1L, 0L, 0L, 0L)))
    assert(r.getLong(5) == 2L, s"null_rows ${r.getLong(5)}")
    assert(r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5) == 3L)
  }

  test("calibrationReport: bin edges, integer mean/rate/ECE, null exclusion") {
    val sps = spark; import sps.implicits._
    val df = Seq(
      (0.05, 0.0), (0.08, 1.0),     // bin 0: n=2, pos=1
      (0.95, 1.0), (1.0, 1.0),      // bin 9 (score 1.0 joins the top bin)
      (0.55, 0.0)                   // bin 5
    ).toDF("s", "y")
    val out = Classify.calibrationReport(df, col("s"), col("y"), bins = 10)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // bin 0: mean = (50000+80000)/2 = 65000, rate 500000, ece |500000-65000|*2
    assert(out(0) == ((2L, 65000L, 1L, 500000L, 870000L)), out.toString)
    assert(out(9) == ((2L, 975000L, 2L, 1000000L, 50000L)), out.toString)
    assert(out(5) == ((1L, 550000L, 0L, 0L, 550000L)), out.toString)
    assert(out.size == 3)
    // NULL score/label rows are excluded (they live in evalReport's audit)
    val withNull = Seq((Option(0.5), Option(1.0)), (None, Option(1.0)),
      (Option(0.5), None)).toDF("s", "y")
    val r = Classify.calibrationReport(withNull, col("s"), col("y")).collect()
    assert(r.length == 1 && r.head.getLong(1) == 1L)
  }

  test("multi-probe LSH: recall monotone in probe radius, candidates stay distinct") {
    val sps = spark; import sps.implicits._
    val vecs = (1 to 300).map { i =>
      val a = i / 23.0
      (i.toLong, Seq(math.cos(a), math.sin(a), math.cos(3 * a), math.sin(5 * a)))
    }.toDF("vec_id", "vec")
    val q = vecs.where(col("vec_id") <= 8L)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val exact = Embeddings.bruteForceTopK(vecs, "vec", "vec_id", q, "qvec", "qid", 5)
    def recall(p: Int): Long = Embeddings.recallReport(
      Embeddings.lshTopK(vecs, "vec", "vec_id", q, "qvec", "qid", 5,
        prefixBits = 6, multiProbe = p), exact).head().getLong(1)
    val r0 = recall(0); val r1 = recall(1); val r2 = recall(2)
    assert(r0 <= r1 && r1 <= r2, s"recall not monotone: $r0, $r1, $r2")
    assert(r2 > r0, s"probing neighbors recovered nothing ($r0 -> $r2) — fixture too easy?")
    // probed buckets are distinct, so no (query, candidate) pair doubles
    val mp = Embeddings.lshTopK(vecs, "vec", "vec_id", q, "qvec", "qid", 300,
      prefixBits = 6, multiProbe = 2)
    val pairs = mp.select("query_id", "neighbor_id").collect().map(_.toSeq)
    assert(pairs.length == pairs.distinct.length)
  }

  test("recallReport: overlap counting, ppm math, perfect-query tally") {
    val sps = spark; import sps.implicits._
    // query 1: exact {10,11,12}, approx hits 2 of 3 -> 666666 ppm
    // query 2: exact {20,21}, approx hits both -> perfect
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 11L), (1L, 99L), (2L, 21L), (2L, 20L))
      .toDF("query_id", "neighbor_id")
    val r = Embeddings.recallReport(approx, exact).head()
    assert(r.getLong(0) == 2L)
    assert(r.getLong(1) == (666666L + 1000000L) / 2)
    assert(r.getLong(2) == 666666L)
    assert(r.getLong(3) == 1L)
    // identical inputs: full recall
    val perfect = Embeddings.recallReport(exact, exact).head()
    assert(perfect.getLong(1) == 1000000L && perfect.getLong(3) == 2L)
  }

  test("ivfpq: full probe equals plain PQ; partial probe prunes but keeps in-cell order") {
    val sps = spark; import sps.implicits._
    val vecs = (1 to 60).map { i =>
      val a = i / 9.0
      (i.toLong, Seq(math.cos(a), math.sin(a), math.cos(2 * a), math.sin(3 * a)))
    }.toDF("vec_id", "vec")
    val q = vecs.where(col("vec_id") <= 2L)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val full = rows(Embeddings.ivfPqTopK(vecs, "vec", "vec_id", q, "qvec", "qid",
      k = 5, nlist = 4, nprobe = 4, m = 2, ksub = 4))
    val plain = rows(Embeddings.pqTopK(vecs, "vec", "vec_id", q, "qvec", "qid",
      k = 5, m = 2, ksub = 4))
    assert(full == plain, "nprobe == nlist must degenerate to the full PQ scan")
    // partial probe returns a subset of candidates, scored identically:
    // every returned (query, neighbor, adc) exists in the full ranking's
    // scored universe with the same adc value
    val part = Embeddings.ivfPqTopK(vecs, "vec", "vec_id", q, "qvec", "qid",
        k = 5, nlist = 4, nprobe = 1, m = 2, ksub = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    val fullScores = plain.map(t => (t._1, t._3) -> t._4).toMap
    part.foreach { case (key, adc) =>
      fullScores.get(key).foreach(fullAdc => assert(adc == fullAdc,
        s"ADC for $key drifted between probe depths: $adc vs $fullAdc"))
    }
    assert(part.nonEmpty)
  }

  test("pqCodebooksTrained: one Lloyd update by hand, empty-entry keep, determinism") {
    val sps = spark; import sps.implicits._
    // same fixture as the pq spec: codes are 1->(0,0) 2->(1,1) 3->(0,1)
    // 4->(1,0) 5->(0,0), so each (subspace, code) member set is known
    val vecs = Seq(
      (1L, Seq(0.0, 0.0, 10.0, 10.0)),
      (2L, Seq(5.0, 5.0, 0.0, 0.0)),
      (3L, Seq(0.1, 0.1, 0.2, 0.1)),
      (4L, Seq(4.9, 5.2, 9.8, 10.1)),
      (5L, Seq(2.5, 2.5, 5.0, 5.0))
    ).toDF("vec_id", "vec")
    val cb = Embeddings.pqCodebooksTrained(vecs, "vec", "vec_id",
      m = 2, ksub = 2, iterations = 1)
    // entry = sum(round(x*1e6)) / (n*1e6) over the member slices
    assert(cb(0)(0).toSeq == Seq(2600000.0 / 3e6, 2600000.0 / 3e6), cb(0)(0).toSeq)
    assert(cb(0)(1).toSeq == Seq(4.95, 5.1), cb(0)(1).toSeq)
    assert(cb(1)(0).toSeq == Seq(24800000.0 / 3e6, 25100000.0 / 3e6), cb(1)(0).toSeq)
    assert(cb(1)(1).toSeq == Seq(0.1, 0.05), cb(1)(1).toSeq)
    def flat(c: Array[Array[Array[Double]]]) = c.map(_.map(_.toSeq).toSeq).toSeq
    // iterations = 0 is exactly the seed quantizer
    assert(flat(Embeddings.pqCodebooksTrained(vecs, "vec", "vec_id", 2, 2, 0))
      == flat(Embeddings.pqCodebooks(vecs, "vec", "vec_id", 2, 2)))
    // determinism: the integer-sum update replays run-to-run
    val again = Embeddings.pqCodebooksTrained(vecs, "vec", "vec_id", 2, 2, 1)
    assert(flat(cb) == flat(again))
    // an entry that attracts no members keeps its previous value: two
    // identical vectors seed two entries; ties encode to index 0, so
    // entry 1 is member-less and must survive the update untouched
    val dup = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(1.0, 2.0))).toDF("vec_id", "vec")
    val kept = Embeddings.pqCodebooksTrained(dup, "vec", "vec_id", 1, 2, 1)
    assert(kept(0)(1).toSeq == Seq(1.0, 2.0), "member-less entry must keep its seed")
  }

  test("pqDistortionE6: exact by hand, Lloyd update never increases it, corrupt codebook overshoots") {
    val sps = spark; import sps.implicits._
    // same 5-vector fixture as the trained-codebook spec; seed codes are
    // 1->(0,0) 2->(1,1) 3->(0,1) 4->(1,0) 5->(0,0) with per-(row,subspace)
    // e6 distances 0,0 / 0,0 / 20000,50000 / 50000,50000 /
    // 12500000,50000000 — total 62 670 000
    val vecs = Seq(
      (1L, Seq(0.0, 0.0, 10.0, 10.0)),
      (2L, Seq(5.0, 5.0, 0.0, 0.0)),
      (3L, Seq(0.1, 0.1, 0.2, 0.1)),
      (4L, Seq(4.9, 5.2, 9.8, 10.1)),
      (5L, Seq(2.5, 2.5, 5.0, 5.0))
    ).toDF("vec_id", "vec")
    val cb0 = Embeddings.pqCodebooks(vecs, "vec", "vec_id", 2, 2)
    val d0 = Embeddings.pqDistortionE6(vecs, "vec", cb0)
    assert(d0 == 62670000L, s"seed distortion drifted: $d0")
    // the q_recall_floor_pq invariant: one Lloyd iteration may not
    // increase distortion beyond the rows*m e6-rounding slack (here it
    // strictly decreases — the means absorb v3/v5's error)
    val cb1 = Embeddings.pqCodebooksTrained(vecs, "vec", "vec_id", 2, 2, 1,
      seed = Some(cb0))
    val d1 = Embeddings.pqDistortionE6(vecs, "vec", cb1)
    assert(d1 <= d0 + 5L * 2L, s"Lloyd increased distortion: $d1 > $d0")
    assert(d1 < d0, s"this fixture's update strictly improves: $d1 vs $d0")
    // a broken training step (all entries zeroed) overshoots the slack by
    // orders of magnitude — the regression the gate's require catches
    val corrupt = cb1.map(_.map(_.map(_ => 0.0)))
    val dc = Embeddings.pqDistortionE6(vecs, "vec", corrupt)
    assert(dc > d0 + 5L * 2L, s"corrupt codebook must overshoot: $dc")
  }

  test("pqDistortionsE6: fused multi-codebook pass equals per-codebook scalars + count") {
    // round-16 advisor ask: the multi-codebook fusion (one corpus pass for
    // N distortions + the row count, q_recall_floor_pq's shape) had no
    // direct spec — a column-index slip would only surface via the gate
    val sps = spark; import sps.implicits._
    val vecs = Seq(
      (1L, Seq(0.0, 0.0, 10.0, 10.0)),
      (2L, Seq(5.0, 5.0, 0.0, 0.0)),
      (3L, Seq(0.1, 0.1, 0.2, 0.1)),
      (4L, Seq(4.9, 5.2, 9.8, 10.1)),
      (5L, Seq(2.5, 2.5, 5.0, 5.0))
    ).toDF("vec_id", "vec")
    val cb0 = Embeddings.pqCodebooks(vecs, "vec", "vec_id", 2, 2)
    val cb1 = Embeddings.pqCodebooksTrained(vecs, "vec", "vec_id", 2, 2, 1,
      seed = Some(cb0))
    val (ds, n) = Embeddings.pqDistortionsE6(vecs, "vec", Seq(cb0, cb1))
    assert(n == 5L)
    assert(ds == Seq(
      Embeddings.pqDistortionE6(vecs, "vec", cb0),
      Embeddings.pqDistortionE6(vecs, "vec", cb1)),
      s"fused $ds drifted from the single-codebook passes")
    assert(ds.head == 62670000L) // pins the seed value the scalar test uses
    // empty-corpus edge: distortions coalesce to 0, count is 0
    val (d0e, n0) = Embeddings.pqDistortionsE6(
      vecs.where(lit(false)), "vec", Seq(cb0))
    assert(d0e == Seq(0L) && n0 == 0L)
  }

  test("residual ivfpq: perfect residual codebook recovers the EXACT L2 ranking") {
    val sps = spark; import sps.implicits._
    // two far-apart cells whose vectors are centroid + a residual drawn
    // from a 4-pattern dictionary; ids 1..4 cover the dictionary in both
    // subspaces, so the seeded residual codebooks have ZERO distortion
    // and residual ADC == e6-rounded TRUE squared L2 for every pair
    // (cross-cell too: q - cent(c) - (v - cent(c)) = q - v).
    val pats = Seq(Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0))
    val c0 = Seq(10.0, 0.0, 10.0, 0.0)
    val c1 = Seq(0.0, 100.0, 0.0, 100.0)
    def mk(id: Long, c: Seq[Double], p0: Int, p1: Int) =
      (id, c.zip(pats(p0) ++ pats(p1)).map { case (a, b) => a + b })
    val vecs = Seq(
      mk(1L, c0, 0, 0), mk(2L, c0, 1, 1), mk(3L, c0, 2, 2), mk(4L, c0, 3, 3),
      mk(5L, c0, 1, 2), mk(6L, c0, 3, 0),
      mk(11L, c1, 0, 1), mk(12L, c1, 2, 3), mk(13L, c1, 1, 0), mk(14L, c1, 3, 2)
    ).toDF("vec_id", "vec")
    val cents = Seq((0L, c0), (1L, c1)).toDF("cid", "cvec")
    val q = vecs.where(col("vec_id").isin(1L, 11L))
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val out = Embeddings.ivfPqTopK(vecs, "vec", "vec_id", q, "qvec", "qid",
        k = 3, nlist = 2, nprobe = 2, m = 2, ksub = 4,
        centroids = Some(cents), residual = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // expected: exact squared-L2 ranking (per-subspace e6 rounding of
    // exact values is exact here), ties to the smaller id
    val all = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def l2e6(a: Seq[Double], b: Seq[Double]): Long =
      a.zip(b).grouped(2).map { g =>
        math.round(g.map { case (x, y) => (x - y) * (x - y) }.sum * 1e6)
      }.sum
    for (qid <- Seq(1L, 11L)) {
      val want = all.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (l2e6(all(qid), v), id) }
        .sorted.take(3).zipWithIndex
        .map { case ((d, id), i) => (qid, i + 1, id, d) }
      val got = out.filter(_._1 == qid).sortBy(_._2).toSeq
      assert(got == want, s"query $qid: $got vs $want")
    }
    // and the non-residual global codebook (seeded from cell-0 vectors
    // only) CANNOT represent cell 1 — residual recall must beat it here
    val exact = out.map(t => (t._1, t._3)).toSeq.toDF("query_id", "neighbor_id")
    val globalTop = Embeddings.ivfPqTopK(vecs, "vec", "vec_id", q, "qvec", "qid",
      k = 3, nlist = 2, nprobe = 2, m = 2, ksub = 4, centroids = Some(cents))
    val rGlobal = Embeddings.recallReport(globalTop, exact).head().getLong(1)
    assert(rGlobal < 1000000L,
      s"fixture too easy: global codebooks also perfect ($rGlobal)")
  }

  test("assignCells: zero-shuffle topN=1 path equals the window form, no Window/Exchange") {
    val sps = spark; import sps.implicits._
    // tie fixture: centroids 10 and 20 are IDENTICAL vectors, so cosine
    // ties bit-for-bit and the exact argmax must break to the smaller
    // cid on both paths; 30 is distinct
    val cents = Seq(
      (10L, Seq(1.0, 0.0, 0.0)), (20L, Seq(1.0, 0.0, 0.0)),
      (30L, Seq(0.0, 1.0, 0.0))).toDF("cid", "cvec")
    val vecs = (1 to 80).map { i =>
      val a = i / 40.0
      (i.toLong, Seq(math.cos(a), math.sin(a), math.sin(a * 3) / 9.0))
    }.toDF("vec_id", "vec")
    val fast = Embeddings.assignCells(vecs, "vec_id", "vec", cents, 1)
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the window form the fast path replaces (rank-1 of sim DESC, cid ASC)
    val sim = Embeddings.vecDot(col("vec"), col("cvec")) /
      (Embeddings.vecNorm(col("vec")) * Embeddings.vecNorm(col("cvec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(sim.desc, col("cid"))
    val ref = vecs.crossJoin(broadcast(cents))
      .withColumn("__cr", row_number().over(w)).where(col("__cr") === 1)
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == ref, s"paths diverge: ${fast.toSeq.sorted} vs ${ref.toSeq.sorted}")
    assert(fast.values.toSet.subsetOf(Set(10L, 30L))) // ties never pick cid 20
    // the fast path is a pure projection: no Window, no Exchange
    val plan = Embeddings.assignCells(vecs, "vec_id", "vec", cents, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Exchange"), plan)
    // float centroid vectors collect through the float branch
    val fcents = cents.withColumn("cvec", col("cvec").cast("array<float>"))
    val ffast = Embeddings.assignCells(vecs, "vec_id", "vec", fcents, 1)
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ffast == ref)
  }

  test("bm25: exact Lucene-idf scores, zero for no-hit docs, dl normalization") {
    val docs = spark.createDataFrame(Seq(
      (1L, "spark spark query"),
      (2L, "spark engine engine engine engine engine"),
      (3L, "other words only")
    )).toDF("doc_id", "text")
    val out = Ranking.bm25(docs, "text", "doc_id", Seq("spark"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // replicate the formula by hand: N=3, df=2, avgdl=4, idf=ln(1+1.5/2.5)
    val idf = math.log(1.0 + (3.0 - 2.0 + 0.5) / (2.0 + 0.5))
    def score(tf: Double, dl: Double) =
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (12.0 / 3.0)))
    assert(out(1L)._1 == 3L && math.abs(out(1L)._2 - score(2, 3)) < 1e-12)
    assert(out(2L)._1 == 6L && math.abs(out(2L)._2 - score(1, 6)) < 1e-12)
    assert(out(3L)._2 == 0.0)
    // same tf, shorter doc wins (length normalization)
    assert(out(1L)._2 > out(2L)._2)
  }

  test("retention cohorts: first-date grouping, offsets, distinct user-days") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val ev = spark.createDataFrame(Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 15:00:00")), // same day twice
      (1L, ts("2024-01-03 09:00:00")),                                  // returns day 2
      (2L, ts("2024-01-02 08:00:00")),                                  // later cohort
      (2L, ts("2024-01-02 09:00:00")))).toDF("user_id", "ts")
    val m = Events.retentionCohorts(ev, "user_id", "ts", maxDays = 30)
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2))).toSet
    assert(m == Set(("2024-01-01", 0, 1L), ("2024-01-01", 2, 1L), ("2024-01-02", 0, 1L)), m)
  }

  test("events: gap sessionization splits on gap, rolls up per session") {
    val sps = spark; import sps.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ts(minutes: Long) = new java.sql.Timestamp(base + minutes * 60000)
    val events = Seq(
      (1L, ts(0), 7L), (2L, ts(10), 7L), (3L, ts(70), 7L),  // user 7: 2 sessions
      (4L, ts(0), 8L), (5L, ts(29), 8L), (6L, ts(58), 8L)). // user 8: 1 session (gaps < 30m)
      toDF("event_id", "ts", "user_id")
    val stats = Events.sessionStats(
        Events.sessionize(events, "user_id", "ts", gapSeconds = 1800), "user_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(stats.size == 3)
    assert(stats((7L, 1L)) == (2L, 10L * 60000000L)) // 2 events, 10 min
    assert(stats((7L, 2L)) == (1L, 0L))
    assert(stats((8L, 1L)) == (3L, 58L * 60000000L))
  }

  test("embeddings: ivf top-k recalls the nearest cells' neighbors") {
    val sps = spark; import sps.implicits._
    // two tight clusters around x-axis and y-axis; centroids = ids 1, 2
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0)), (2L, Array(0.0, 1.0, 0.0)),
      (3L, Array(0.95, 0.05, 0.0)), (4L, Array(0.9, 0.1, 0.0)),
      (5L, Array(0.05, 0.95, 0.0)), (6L, Array(0.1, 0.9, 0.0))).toDF("vec_id", "vec")
    val queries = vecs.where($"vec_id" === 3).select($"vec_id".as("qid"), $"vec".as("qvec"))
    // nprobe=1: only the x-cluster cell is scanned
    val near = Embeddings.ivfTopK(vecs, "vec", "vec_id", queries, "qvec", "qid",
        k = 3, nlist = 2, nprobe = 1)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(near.toSeq == Seq((1, 1L), (2, 4L)), s"got ${near.toSeq}")
    // nprobe=2 scans both cells: full brute-force ranking
    val all = Embeddings.ivfTopK(vecs, "vec", "vec_id", queries, "qvec", "qid",
        k = 5, nlist = 2, nprobe = 2)
      .collect().map(_.getLong(2))
    assert(all.toSet == Set(1L, 2L, 4L, 5L, 6L))
  }

  test("embeddings: hyperplane signature deterministic; identical vectors collide") {
    val sps = spark; import sps.implicits._
    val vecs = Seq((1L, Array(0.5, -0.25, 0.75)), (2L, Array(0.5, -0.25, 0.75)),
      (3L, Array(-0.5, 0.25, -0.75))).toDF("vec_id", "vec")
    val sigs = vecs.select($"vec_id", Embeddings.hyperplaneSignature($"vec").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1) == sigs(2))
    assert(sigs(3) == ~sigs(1)) // antipodal vector flips every hyperplane side
    val again = vecs.select(Embeddings.hyperplaneSignature($"vec").as("sig"))
      .collect().map(_.getLong(0))
    assert(again.head == sigs(1)) // deterministic across evaluations
  }

  test("text analysis: lang id, token count, quality metrics") {
    val sps = spark; import sps.implicits._
    val df = Seq(
      (1L, "the cat is on the mat and it is happy"),
      (2L, "der hund ist ein guter freund und das ist schoen"),
      (3L, "xyzzy qwerty plugh")).toDF("doc_id", "text")
    val langs = df.select($"doc_id", TextAnalysis.langId($"text").as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(1) == "en" && langs(2) == "de" && langs(3) == "und")
    val tc = df.where($"doc_id" === 1).select(TextAnalysis.tokenCount($"text")).head().getLong(0)
    assert(tc == 10L)
    val qm = TextAnalysis.withQualityMetrics(df, "text").where($"doc_id" === 1).head()
    assert(qm.getAs[Double]("stopword_ratio_en") > 0.3)
    assert(qm.getAs[Double]("quality_score") > 0.0 && qm.getAs[Double]("quality_score") <= 1.0)
  }

  test("within-doc line dedup: keeps first occurrence in order, normalized vs raw keys") {
    val sps = spark; import sps.implicits._
    val df = Seq(
      (1L, "Cookie notice\nreal content A\ncookie   NOTICE\nreal content B\nCookie notice"),
      (2L, "a\nb\na"),
      (3L, "only line")).toDF("doc_id", "text")
    val out = TextAnalysis.dropRepeatedLinesInDoc(df, "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // normalized keys: case/whitespace variants collapse; first bytes kept
    assert(out(1L) == "Cookie notice\nreal content A\nreal content B")
    assert(out(2L) == "a\nb")
    assert(out(3L) == "only line")
    // raw mode keeps the case-variant line
    val raw = TextAnalysis.dropRepeatedLinesInDoc(df, "text", normalizeKeys = false)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(raw(1L) == "Cookie notice\nreal content A\ncookie   NOTICE\nreal content B")
  }

  test("adaptive quality filter: per-source quantile cut, no-information source keeps all") {
    val sps = spark; import sps.implicits._
    // source A: 8 low-quality docs with SPREAD scores (word-count
    // component varies, one per histogram bin) + 2 high-quality; source B:
    // uniformly decent. The 0.25-quantile rank (2.5 of 10) lands in A's
    // third-lowest bin, so at least the two worst docs are cut; B's
    // homogeneous score interpolates to itself and `>=` keeps all of B.
    val good = "the cat is on the mat and it is happy with the other cats " * 4
    def bad(i: Int) = Seq.fill(4 * i)("zz").mkString(" ")
    val docs = ((1 to 8).map(i => (i.toLong, "A", bad(i))) ++
      Seq((9L, "A", good), (10L, "A", good)) ++
      (11 to 16).map(i => (i.toLong, "B", good))).toDF("doc_id", "source", "text")
    val kept = TextAnalysis.adaptiveQualityFilter(docs, "text", "source", 0.25)
    val bySource = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // B is homogeneous: its quantile threshold equals the shared score, >= keeps all
    assert(bySource("B") == 6L)
    // A keeps the high-quality docs and loses (at least) its two worst
    val keptA = kept.where($"source" === "A").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptA.contains(9L) && keptA.contains(10L))
    assert(!keptA.contains(1L) && !keptA.contains(2L))
    assert(bySource("A") >= 7L && bySource("A") <= 8L)
    // per-source independence: A's cut did not leak into B
    assert(bySource.values.sum == kept.count())
  }

  test("n-gram language id detects via trigram profiles") {
    val sps = spark; import sps.implicits._
    val df = Seq(
      (1L, "the thing and the other thing going along"),
      (2L, "der hund und die katze singen ein schoenes lied"),
      (3L, "les enfants que nous aimons sont une belle chose"),
      (4L, "los gatos que juegan para una casa"),
      (5L, "zzz qqq 123")).toDF("doc_id", "text")
    val langs = df.select($"doc_id", TextAnalysis.langIdNgram($"text").as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "und"), langs.toString)
  }

  test("multimodal: real PNG round-trip is exact, deterministic, batch-size-invariant") {
    val sps = spark; import sps.implicits._
    val ids = (1L to 100L).toDF("doc_id")
    val png = Multimodal.synthesizePngPayloads(ids, "doc_id")
    val a = Multimodal.decodeAndFeaturize(png, "media_id", "payload", "image", 8)
      .select("media_id", "meta.width", "meta.height", "meta.channels", "features").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getSeq[Float](4))).sortBy(_._1)
    val b = Multimodal.decodeAndFeaturize(png.repartition(7), "media_id", "payload", "image", 8)
      .select("media_id", "meta.width", "meta.height", "meta.channels", "features").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getSeq[Float](4))).sortBy(_._1)
    assert(a.sameElements(b))
    // decoded dims/channels/pixel-sums equal the analytic source pattern
    a.foreach { case (id, w, h, c, feats) =>
      assert(w == (8 + id % 9).toInt && h == (8 + (id / 9) % 9).toInt && c == 3)
      val expected = (for { x <- 0 until w; y <- 0 until h; ch <- 0 to 2 }
        yield ((id * 31 + x * 7 + y * 13 + ch * 101) % 256)).sum
      assert(feats.head.toLong == expected, s"pixel sum mismatch for id=$id")
      assert(feats.drop(4).map(_.toLong).sum == w.toLong * h, "histogram bins sum to pixel count")
    }
    // undecodable payloads zero out instead of failing the task
    val junk = Seq((1L, "not a png".getBytes("UTF-8"))).toDF("media_id", "payload")
    val z = Multimodal.decodeAndFeaturize(junk, "media_id", "payload", "image", 8).head()
    assert(z.getStruct(1).getInt(1) == 0 && z.getSeq[Float](2).forall(_ == 0f))
    val resized = Multimodal.withResizePlan(
      Multimodal.decodeAndFeaturize(png, "media_id", "payload", "image", 8), 12)
      .select("target_width", "target_height").collect()
    assert(resized.forall(r => r.getInt(0) <= 12 && r.getInt(1) <= 12 && r.getInt(0) > 0))
    val clips = Multimodal.synthesizeGifPayloads((1L to 5L).toDF("doc_id"), "doc_id")
    val frames = Multimodal.sampleFrames(
      Multimodal.decodeAndFeaturize(clips, "media_id", "payload", "video", 8), 2.0)
    assert(frames.count() > 5) // multiple frames per decoded clip
  }

  test("multimodal: dHash64 matches the analytic spec, re-encode-stable, junk-null") {
    val sps = spark; import sps.implicits._
    val ids = (1L to 50L).toDF("doc_id")
    val png = Multimodal.synthesizePngPayloads(ids, "doc_id")
    val hashed = Multimodal.dHash64(png, "media_id", "payload")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).sortBy(_._1)
    // replay the documented spec in Scala from the pixel formula
    hashed.foreach { case (id, w, h, got) =>
      assert(w == (8 + id % 9).toInt && h == (8 + (id / 9) % 9).toInt)
      def lum(x: Int, y: Int): Int =
        (((id * 31 + x * 7 + y * 13) % 256) * 299 +
         ((id * 31 + x * 7 + y * 13 + 101) % 256) * 587 +
         ((id * 31 + x * 7 + y * 13 + 202) % 256) * 114).toInt / 1000
      var want = 0L
      for (gr <- 0 until 8; gc <- 0 until 8)
        if (lum(gc * w / 9, gr * h / 8) > lum((gc + 1) * w / 9, gr * h / 8))
          want |= (1L << (gr * 8 + gc))
      assert(got == want, s"dhash mismatch for id=$id")
    }
    // identical pixels after an independent re-encode hash identically
    val reenc = Multimodal.synthesizePngPayloads(ids, "doc_id")
    assert(Multimodal.dHash64(reenc.repartition(5), "media_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq ==
      hashed.map(t => (t._1, t._4)).toSeq)
    // junk payloads yield NULL hash with (-1, -1) dims
    val junk = Seq((7L, "nope".getBytes("UTF-8"))).toDF("media_id", "payload")
    val j = Multimodal.dHash64(junk, "media_id", "payload").head()
    assert(j.getInt(1) == -1 && j.isNullAt(3))
  }

  test("multimodal: audioFingerprint64 matches the analytic spec, junk-null") {
    val sps = spark; import sps.implicits._
    val ids = (1L to 40L).toDF("doc_id")
    val wav = Multimodal.synthesizeWavPayloads(ids, "doc_id")
    val fps = Multimodal.audioFingerprint64(wav, "media_id", "payload")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).sortBy(_._1)
    fps.foreach { case (id, frames, channels, got) =>
      assert(frames == (400 + (id % 7) * 100).toInt && channels == (1 + id % 2).toInt)
      val n = frames * channels
      def s(i: Long): Long = ((id * 31 + i * 17) % 4001) - 2000
      var want = 0L
      for (k <- 0 until 64)
        if (s(k.toLong * n / 65) > s((k + 1).toLong * n / 65)) want |= (1L << k)
      assert(got == want, s"afp mismatch for id=$id")
    }
    val junk = Seq((3L, "nope".getBytes("UTF-8"))).toDF("media_id", "payload")
    val j = Multimodal.audioFingerprint64(junk, "media_id", "payload").head()
    assert(j.getInt(1) == -1 && j.isNullAt(3))
  }

  test("multimodal: frameDHashes — one hash per decoded frame, analytic match, junk row") {
    val sps = spark; import sps.implicits._
    val ids = (1L to 20L).toDF("doc_id")
    val gifs = Multimodal.synthesizeGifPayloads(ids, "doc_id")
    val fh = Multimodal.frameDHashes(gifs, "media_id", "payload")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    fh.groupBy(_._1).foreach { case (id, rows) =>
      assert(rows.length == (2 + id % 4).toInt, s"frame count for id=$id")
      val w = (6 + id % 5).toInt
      val h = (6 + (id / 5) % 5).toInt
      rows.foreach { case (_, f, got) =>
        def lum(x: Int, y: Int): Long = (id * 31 + f * 29 + x * 7 + y * 13) % 256
        var want = 0L
        for (gr <- 0 until 8; gc <- 0 until 8)
          if (lum(gc * w / 9, gr * h / 8) > lum((gc + 1) * w / 9, gr * h / 8))
            want |= (1L << (gr * 8 + gc))
        assert(got == want, s"fhash mismatch for id=$id frame=$f")
      }
    }
    val junk = Seq((9L, "nope".getBytes("UTF-8"))).toDF("media_id", "payload")
    val j = Multimodal.frameDHashes(junk, "media_id", "payload").collect()
    assert(j.length == 1 && j(0).getInt(1) == -1 && j(0).isNullAt(2))
  }

  test("multimodal: a NULL payload keeps each decoder's NULL contract") {
    val sps = spark; import sps.implicits._
    val nul = Seq((5L, null: Array[Byte])).toDF("media_id", "payload")
    val r = Multimodal.resizePayloads(nul, "media_id", "payload", 6).collect()
    assert(r.length == 1 && r(0).getLong(0) == 5L && r(0).isNullAt(1))
    val d = Multimodal.dHash64(nul, "media_id", "payload").head()
    assert(d.getInt(1) == -1 && d.getInt(2) == -1 && d.isNullAt(3))
    val a = Multimodal.audioFingerprint64(nul, "media_id", "payload").head()
    assert(a.getInt(1) == -1 && a.getInt(2) == -1 && a.isNullAt(3))
    val f = Multimodal.frameDHashes(nul, "media_id", "payload").collect()
    assert(f.length == 1 && f(0).getLong(0) == 5L && f(0).getInt(1) == -1 && f(0).isNullAt(2))
    Seq("image", "audio", "video").foreach { kind =>
      val z = Multimodal.decodeAndFeaturize(nul, "media_id", "payload", kind, 8).head()
      val meta = z.getStruct(1)
      assert(meta.getString(0) == kind && (1 to 3).forall(meta.getInt(_) == 0) &&
        meta.getLong(4) == 0L && z.getSeq[Float](2) == Seq.fill(8)(0f), kind)
    }
    // a stub kind reads a NULL payload as empty bytes: same row as an empty payload
    val empty = Seq((5L, Array.emptyByteArray)).toDF("media_id", "payload")
    val stub = Multimodal.decodeAndFeaturize(nul, "media_id", "payload", "lidar", 8).head()
    assert(stub == Multimodal.decodeAndFeaturize(empty, "media_id", "payload", "lidar", 8).head())
  }

  test("scene cuts: consecutive-frame hamming over decoded GIFs matches the analytic walk") {
    val sps = spark; import sps.implicits._
    val ids = (1L to 15L).toDF("doc_id")
    val fh = Multimodal.frameDHashes(
      Multimodal.synthesizeGifPayloads(ids, "doc_id"), "media_id", "payload")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame_idx")
    val got = fh.withColumn("prev", lag(col("fhash"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(col("media_id"), col("frame_idx"),
        bit_count(col("fhash").bitwiseXOR(col("prev"))).cast("long").as("dist"))
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    // recompute distances from the analytic per-frame hash formula
    for (id <- 1L to 15L) {
      val w0 = (6 + id % 5).toInt
      val h0 = (6 + (id / 5) % 5).toInt
      def hash(f: Int): Long = {
        def lum(x: Int, y: Int): Long = (id * 31 + f * 29 + x * 7 + y * 13) % 256
        var hh = 0L
        for (gr <- 0 until 8; gc <- 0 until 8)
          if (lum(gc * w0 / 9, gr * h0 / 8) > lum((gc + 1) * w0 / 9, gr * h0 / 8))
            hh |= (1L << (gr * 8 + gc))
        hh
      }
      val n = (2 + id % 4).toInt
      for (f <- 1 until n)
        assert(got((id, f)) == java.lang.Long.bitCount(hash(f) ^ hash(f - 1)),
          s"dist mismatch id=$id f=$f")
    }
  }

  test("lexical diversity: hand counts, repeated text scores low ttr") {
    val sps = spark; import sps.implicits._
    val docs = Seq(
      (1L, "a b b c"),             // n=4, types=3, clnc = 2ln2
      (2L, "x x x x x x")          // n=6, types=1, clnc = 6ln6
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lexicalDiversity(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(out(0) == (1L, 4L, 3L, math.round(2.0 * math.log(2.0) * 1e6), 750000L))
    assert(out(1) == (2L, 6L, 1L, math.round(6.0 * math.log(6.0) * 1e6), 166666L))
  }

  test("multimodal: real WAV round-trip is exact and junk-tolerant") {
    val sps = spark; import sps.implicits._
    val ids = (1L to 50L).toDF("doc_id")
    val wav = Multimodal.synthesizeWavPayloads(ids, "doc_id")
    val rows = Multimodal.decodeAndFeaturize(wav, "media_id", "payload", "audio", 8)
      .select("media_id", "meta.width", "meta.height", "meta.channels",
        "meta.duration_ms", "features").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getSeq[Float](5))).sortBy(_._1)
    rows.foreach { case (id, frames, rate, ch, durMs, feats) =>
      val expFrames = (400 + (id % 7) * 100).toInt
      val expCh = (1 + id % 2).toInt
      assert(frames == expFrames && rate == 8000 && ch == expCh)
      assert(durMs == expFrames * 1000L / 8000)
      val samples = (0 until expFrames * expCh).map(i => ((id * 31 + i.toLong * 17) % 4001) - 2000)
      assert(feats(0).toLong == samples.sum, s"sample sum for id=$id")
      assert(feats(1).toLong == samples.map(math.abs).sum)
      val zx = samples.sliding(2).count(p => p.head * p(1) < 0)
      assert(feats(2).toLong == zx, s"zero crossings for id=$id")
      assert(feats.drop(4).map(_.toLong).sum == samples.length, "amplitude bins cover all samples")
    }
    // core codec: byte-exact round trip + header tolerance
    val enc = Multimodal.AudioCodec.encodeWav(Array[Short](0, 100, -100, 32767, -32768), 44100, 1)
    val dec = Multimodal.AudioCodec.decodeWav(enc)
    assert(dec.sampleRate == 44100 && dec.channels == 1 &&
      dec.samples.toSeq == Seq[Short](0, 100, -100, 32767, -32768))
    assert(Multimodal.AudioCodec.decodeWav("RIFFjunk".getBytes("UTF-8")) == null)
    val junk = Seq((1L, "not a wav".getBytes("UTF-8"))).toDF("media_id", "payload")
    val z = Multimodal.decodeAndFeaturize(junk, "media_id", "payload", "audio", 8).head()
    assert(z.getStruct(1).getInt(1) == 0 && z.getSeq[Float](2).forall(_ == 0f))
  }

  test("source report: per-source docs, dup rates, and volume") {
    val sps = spark; import sps.implicits._
    val df = Seq(
      (1L, "alpha beta", "a"), (2L, "alpha beta", "a"), (3L, "gamma!", "a"),
      (4L, "delta epsilon zeta", "b")).toDF("doc_id", "text", "source")
    val r = TextAnalysis.sourceReport(df, "text", "source")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("a").getAs[Long]("docs") == 3 && r("a").getAs[Long]("distinct_docs") == 2)
    assert(r("a").getAs[Long]("duplicate_docs") == 1)
    assert(r("a").getAs[Long]("words_sum") == 5) // 2 + 2 + 1
    assert(r("a").getAs[Long]("tokens_sum") == 6) // "gamma!" tokenizes to 2
    assert(r("b").getAs[Long]("docs") == 1 && r("b").getAs[Long]("duplicate_docs") == 0)
  }

  test("repetition metrics: duplicate lines/words and deterministic top bigram") {
    val sps = spark; import sps.implicits._
    val df = Seq(
      (1L, "spam spam spam spam"),
      (2L, "line one\nline two\nline one\nunique"),
      (3L, "all distinct words here")).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Int]("words") == 4 && m(1L).getAs[Int]("dup_words") == 3)
    assert(m(1L).getAs[String]("top_bigram") == "spam spam")
    assert(m(1L).getAs[Long]("top_bigram_count") == 3L) // overlapping occurrences count
    assert(m(1L).getAs[Double]("dup_word_fraction") == 0.75)
    assert(m(2L).getAs[Int]("lines") == 4 && m(2L).getAs[Int]("dup_lines") == 1)
    assert(m(2L).getAs[Double]("dup_line_fraction") == 0.25)
    assert(math.abs(m(2L).getAs[Double]("dup_line_char_fraction") - 8.0 / 30.0) < 1e-15)
    assert(m(3L).getAs[Int]("dup_words") == 0)
    // tie on count=1 breaks to the lexicographically smallest bigram
    assert(m(3L).getAs[String]("top_bigram") == "all distinct")
  }

  test("lsh bucket warning listener fires on a synthetic hot bucket") {
    val sps = spark; import sps.implicits._
    val seen = new java.util.concurrent.atomic.AtomicReference[(Long, Long)](null)
    Dedup.registerLshBucketWarningListener(spark, threshold = 10L,
      onWarn = (mx, dr) => seen.set((mx, dr)))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    // accumulator-backed listener works either way; this test pins the
    // AQE-off half, the test below pins the AQE-on (default) half
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // 40 identical docs: every band bucket holds all 40 -> hot-bucket skew
      val docs = (1L to 40L)
        .map(i => (i, "same exact text content for every single document in this corpus"))
        .toDF("doc_id", "text")
      Dedup.minHashNearDuplicates(docs, "text", "doc_id",
        numHashes = 16, bands = 4, shingleSize = 3, threshold = 0.5).count()
      // QueryExecutionListener delivery is async on the listener bus
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (seen.get() == null && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen.get() != null, "bucket-skew warning did not fire")
      assert(seen.get()._1 == 40L, s"expected max bucket 40, got ${seen.get()}")
      assert(seen.get()._2 == 0L, "uncapped run must not drop buckets")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("lsh bucket warning listener fires with AQE enabled (accumulator path)") {
    val sps = spark; import sps.implicits._
    val seen = new java.util.concurrent.atomic.AtomicReference[(Long, Long)](null)
    // registration latches pre-existing runs (e.g. the AQE-off test above)
    // at their current high-water mark, so only THIS pipeline can fire
    Dedup.registerLshBucketWarningListener(spark, threshold = 10L,
      onWarn = (mx, dr) => seen.set((mx, dr)))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "this test exists to prove the warning fires under the AQE default")
    // 30 identical docs: every band bucket holds all 30 -> hot-bucket skew
    val docs = (1L to 30L)
      .map(i => (i, "identical body carried by each and every document of this aqe corpus"))
      .toDF("doc_id", "text")
    Dedup.minHashNearDuplicates(docs, "text", "doc_id",
      numHashes = 16, bands = 4, shingleSize = 3, threshold = 0.5).count()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (seen.get() == null && System.nanoTime() < deadline) Thread.sleep(50)
    assert(seen.get() != null, "bucket-skew warning did not fire under AQE")
    assert(seen.get()._1 == 30L, s"expected max bucket 30, got ${seen.get()}")
    assert(seen.get()._2 == 0L, "uncapped run must not drop buckets")
    // other skew-capped operators share the accumulator registry but must
    // NOT trigger the LSH-labeled warning: a 40-point EWMA key (over the
    // 10-entry threshold) leaves the latch untouched
    import java.sql.Timestamp
    val tele = (1 to 40).map(i =>
      (1L, Timestamp.valueOf(f"2024-01-01 10:00:$i%02d"), i.toDouble))
      .toDF("k", "ts", "v")
    Events.ewmaSmooth(tele, "k", "ts", "v", 500000L).count()
    Thread.sleep(500) // listener bus drain window
    assert(seen.get() == ((30L, 0L)),
      s"EWMA key history fired the LSH warning: ${seen.get()}")
  }

  test("exact-jaccard doc-freq cap publishes dropped-shingle telemetry and warns") {
    val sps = spark; import sps.implicits._
    val seen = new java.util.concurrent.atomic.AtomicReference[(Long, Long)](null)
    Dedup.registerJaccardShingleWarningListener(spark, threshold = 5L,
      onWarn = (mx, dr) => seen.set((mx, dr)))
    // planted hot shingle: 12 docs of 5 tokens each share their first
    // 3-gram ("alpha beta gamma"); the other two 3-grams per doc are unique
    val docs = (1L to 12L).map(i => (i, s"alpha beta gamma u$i v$i")).toDF("doc_id", "text")
    val shingles = Dedup.shingleHashes(docs, "text", "doc_id", 3)
    // capped at 5: the hot shingle (doc freq 12) is dropped; the surviving
    // shingles are all unique, so no pairs remain — the silent-underreport
    // scenario the telemetry exists to expose
    val capped = Dedup.exactJaccardPairs(shingles, maxDocFreq = 5)
    assert(capped.count() == 0L)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (seen.get() == null && System.nanoTime() < deadline) Thread.sleep(50)
    assert(seen.get() != null, "jaccard shingle-skew warning did not fire")
    assert(seen.get() == ((12L, 1L)),
      s"expected (max_doc_freq 12, dropped 1), got ${seen.get()}")
    // uncapped control on the same corpus: the hot shingle contributes all
    // 66 ordered pairs at jaccard 1/(3+3-1), and no drops are recorded
    val seen2 = new java.util.concurrent.atomic.AtomicReference[(Long, Long)](null)
    Dedup.registerJaccardShingleWarningListener(spark, threshold = 5L,
      onWarn = (mx, dr) => seen2.set((mx, dr)))
    val full = Dedup.exactJaccardPairs(shingles).collect()
    assert(full.length == 66)
    assert(full.forall(r => math.abs(r.getAs[Double]("jaccard") - 0.2) < 1e-15))
    val deadline2 = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (seen2.get() == null && System.nanoTime() < deadline2) Thread.sleep(50)
    assert(seen2.get() == ((12L, 0L)),
      s"uncapped run must record max 12 and zero drops, got ${seen2.get()}")
  }

  test("connected components: pointer jumping converges on a long path in O(log d) rounds") {
    val sps = spark; import sps.implicits._
    // 64-node path 0-1-2-...-63: diameter 63, worst case for plain min-label
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("id1", "id2")
    val jumped = Dedup.nearDuplicateClusters(path, maxIter = 10, shortcut = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(jumped.length == 64 && jumped.forall(_._2 == 0L),
      s"pointer jumping must fully converge within 10 rounds on a 64-path")
    // contrast: plain propagation moves labels one hop per round
    val plain = Dedup.nearDuplicateClusters(path, maxIter = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(plain.exists(_._2 != 0L), "3 plain rounds cannot finish a 64-path (sanity)")
    // and on a clique-union graph both modes agree with default settings
    val cliques = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val a = Dedup.nearDuplicateClusters(cliques).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val b = Dedup.nearDuplicateClusters(cliques, shortcut = true).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(a.sameElements(b))
  }

  test("profile: exact metrics correct; HLL mode within rel error, no Expand") {
    val sps = spark; import sps.implicits._
    val df = spark.range(0, 5000).select(col("id").as("k"),
        when(col("id") % 10 === 0, lit(null).cast("long")).otherwise(col("id") % 100).as("m"),
        (col("id") % 7).cast("double").as("v"))
    val exact = Profile.profile(df, exact = true)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(exact("k").getLong(1) == 5000 && exact("k").getLong(2) == 0 &&
      exact("k").getLong(3) == 5000)
    // m is null whenever id % 10 == 0, which removes every value divisible
    // by 10 -> 90 distinct survive
    assert(exact("m").getLong(2) == 500 && exact("m").getLong(3) == 90)
    assert(exact("v").getLong(4) == 0L && exact("v").getLong(5) == 6000000L)
    // HLL mode: estimates within the p=14 error bound, and the plan has no
    // Expand (the thing that makes multi-column exact distinct expensive)
    val approx = Profile.profile(df)
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"),
      "approximate profile must not Expand the scan")
    val est = approx.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    for ((c, truth) <- Seq("k" -> 5000L, "m" -> 90L, "v" -> 7L))
      assert(math.abs(est(c) - truth) <= math.max(2L, (truth * 0.05).toLong),
        s"$c: est ${est(c)} vs $truth")
    // exact mode DOES use distinct aggregation (sanity that the modes differ)
    assert(Profile.profile(df, exact = true).queryExecution.executedPlan
      .toString.contains("Expand"))
    // an all-null column reports 0 distinct in BOTH modes (the hash is
    // null-gated: without it, xxhash64(NULL)'s seed would count as one)
    val withNull = df.withColumn("z", lit(null).cast("string"))
    assert(Profile.profile(withNull, Seq("z"), exact = true).collect().head.getLong(3) == 0L)
    assert(Profile.profile(withNull, Seq("z")).collect().head.getLong(3) == 0L)
  }

  test("winsorize: clips at the sketch quantiles, flags exactly, ids inside band untouched") {
    val sps = spark; import sps.implicits._
    graft.GraftFunctions.registerAll(spark)
    // 100 uniform values 0.5..99.5 (bin centers for width 1), nbins = 100
    val df = (0 until 100).map(i => (i.toLong, i + 0.5)).toDF("id", "v")
    val out = Profile.winsorize(df, "v", nbins = 100, lo = 0.0, hi = 100.0,
        pLo = 0.1, pHi = 0.9)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4), r.getBoolean(5), r.getDouble(6)))
    // quantile(0.1): rank 10 lands at bin 9 (cum 10), within 1 -> t = 10.0
    val tLo = out.head._3
    val tHi = out.head._4
    assert(tLo == 10.0 && tHi == 90.0, s"($tLo, $tHi)")
    out.foreach { case (_, v, _, _, cl, ch, w) =>
      assert(cl == (v < 10.0) && ch == (v > 90.0))
      assert(w == math.min(math.max(v, 10.0), 90.0))
    }
    assert(out.count(_._5) == 10 && out.count(_._6) == 10)
  }

  test("temperatureWeights: alpha endpoints, ppm normalization, integer quotas") {
    val sps = spark; import sps.implicits._
    val df = (Seq.fill(80)("big") ++ Seq.fill(16)("mid") ++ Seq.fill(4)("tiny"))
      .toDF("source")
    // alpha = 1: proportional (80/16/4 of 100)
    val p1 = Sampling.temperatureWeights(df, "source", 1.0, 1000L)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(p1("big") == ((800000L, 800L)) && p1("mid") == ((160000L, 160L))
      && p1("tiny") == ((40000L, 40L)), p1.toString)
    // alpha = 0: uniform over sources regardless of size
    val p0 = Sampling.temperatureWeights(df, "source", 0.0, 999L)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(p0.values.map(_._1).toSet == Set(333333L), p0.toString)
    assert(p0.values.map(_._2).toSet == Set(999L * 333333L / 1000000L))
    // 0 < alpha < 1 flattens: tiny's share grows, big's shrinks
    val ph = Sampling.temperatureWeights(df, "source", 0.5, 1000L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(ph("tiny") > p1("tiny")._1 && ph("big") < p1("big")._1, ph.toString)
  }

  test("autoQuantiles: exact on uniform data, virtual max bin, degenerate inputs") {
    val sps = spark; import sps.implicits._
    graft.GraftFunctions.registerAll(spark)
    // 0..999 with nbins=1000 over [0, 999): every value its own bin,
    // 999 in the virtual max bin; quantile(q) interpolates rank q*1000
    val df = (0 until 1000).map(i => Tuple1(i.toDouble)).toDF("v")
    val out = Profile.autoQuantiles(df, "v", nbins = 1000,
        qs = Seq(0.0, 0.5, 0.999, 1.0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == 0L)                       // start of first bin
    // rank 500 lands at bin 499 end: 0 + width*(499 + 1) with width 999/1000
    assert(out(500000L) == math.round((999.0 / 1000) * 500 * 1e6), out.toString)
    assert(out(1000000L) == 999000000L)         // q=1 -> the true max
    // all-equal: every q returns the value (all mass in the virtual bin)
    val eq = Profile.autoQuantiles(Seq(7.5, 7.5, 7.5).toDF("v"), "v", 10, Seq(0.0, 0.5, 1.0))
      .collect().map(_.getLong(1)).toSeq
    assert(eq == Seq(7500000L, 7500000L, 7500000L), eq.toString)
    // all-NULL -> empty; NaN rows ignored for the domain fit
    assert(Profile.autoQuantiles(
      Seq.empty[Option[Double]].toDF("v"), "v", 10, Seq(0.5)).count() == 0L)
    val withNan = (Seq(1.0, 2.0, 3.0, Double.NaN)).toDF("v")
    val nanOut = Profile.autoQuantiles(withNan, "v", 10, Seq(1.0))
      .collect().head.getLong(1)
    assert(nanOut == 3000000L, s"NaN poisoned the fit: $nanOut")
  }

  test("winsorize/quantileBins NaN contract: NULL out, false flags, thresholds unaffected") {
    val sps = spark; import sps.implicits._
    graft.GraftFunctions.registerAll(spark)
    val df = ((0 until 100).map(i => (i.toLong, i + 0.5)) :+ (100L, Double.NaN))
      .toDF("id", "v")
    val w = Profile.winsorize(df, "v", nbins = 100, lo = 0.0, hi = 100.0,
      pLo = 0.1, pHi = 0.9)
    val nanRow = w.where(col("id") === 100L).collect().head
    // hist_sketch dropped the NaN, so thresholds match the clean fixture
    assert(nanRow.getDouble(2) == 10.0 && nanRow.getDouble(3) == 90.0)
    assert(!nanRow.getBoolean(4) && !nanRow.getBoolean(5))
    assert(nanRow.isNullAt(6), "NaN must winsorize to NULL, not t_hi")
    val qb = Profile.quantileBins(df, "v", nbins = 100, lo = 0.0, hi = 100.0, k = 4)
    assert(qb.where(col("id") === 100L).collect().head.isNullAt(2),
      "NaN must bin to NULL, not the top bucket")
    assert(qb.where(col("id") < 100L && col("bucket").isNull).count() == 0L)
  }

  test("prepare normalizes driver-parquet timestamps to TIMESTAMP (NTZ drift guard)") {
    // the driver has shipped testdata with isAdjustedToUTC true, false
    // (TIMESTAMP_NTZ) and raw int64 nanos across rounds; every events
    // operator calls unix_micros, which rejects NTZ — prepare() must
    // always hand the gates plain TIMESTAMP whatever the generator wrote
    graft.SparkEntry.prepare(spark, "/root/testdata/sf0.001")
    for ((t, c) <- Seq("events" -> "ts", "lineitem" -> "l_shipdate", "orders" -> "o_orderdate"))
      assert(spark.table(t).schema(c).dataType ==
        org.apache.spark.sql.types.TimestampType, s"$t.$c")
    // and the microsecond arithmetic the events gates depend on resolves
    assert(spark.sql("SELECT unix_micros(ts) FROM events LIMIT 1").head().getLong(0) > 0L)
  }

  test("typed Dataset API over real testdata") {
    val docs = typed.documents(spark, "/root/testdata/sf0.001")
    assert(docs.head().text.nonEmpty)
    val pairs = typed.nearDuplicates(docs, threshold = 0.1).collect()
    pairs.foreach(p => assert(p.id1 < p.id2 && p.jaccard_est >= 0.1))
    val embs = typed.embeddings(spark, "/root/testdata/sf0.001")
    val nbrs = typed.topKNeighbors(embs, Set(0L, 1L), 3).collect()
    assert(nbrs.count(_.query_id == 0L) == 3)
    assert(nbrs.filter(_.query_id == 1L).map(_.rank).sorted.sameElements(Array(1, 2, 3)))
  }

  test("typed sampling and quantization wrappers") {
    val docs = typed.documents(spark, "/root/testdata/sf0.001")
    val sampled = typed.balancedSample(docs, 5).collect()
    assert(sampled.groupBy(_.lang).values.forall(_.length <= 5))
    val q = typed.quantized(typed.embeddings(spark, "/root/testdata/sf0.001")).head()
    assert(q.q.length == 64 && q.q.forall(v => v >= -127 && v <= 127) && q.scale > 0)
  }

  test("sketch aggregates via SQL surface") {
    spark.range(0, 1000).createOrReplaceTempView("ids")
    val r = spark.sql("""
      SELECT size(minhash_agg(xxhash64(id), 32)) AS k,
             simhash_agg(xxhash64(id)) AS sh,
             hyperplane_signature(array(CAST(1.0 AS DOUBLE), CAST(-1.0 AS DOUBLE))) AS hp
      FROM ids""").head()
    assert(r.getInt(0) == 32)
    assert(r.get(1) != null && r.get(2) != null)
  }

  test("sig_match_count matches the HOF form on equal, ragged, and null-element arrays") {
    val r = spark.sql("""
      SELECT sig_match_count(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS m,
             sig_match_count(array(1L, 2L), array(1L, 2L, 3L)) AS ragged,
             sig_match_count(array(1L, NULL, 3L), array(1L, NULL, 3L)) AS withnull,
             aggregate(zip_with(array(1L, NULL, 3L), array(1L, NULL, 3L),
               (x, y) -> IF(x = y, 1, 0)), 0, (a, m) -> a + m) AS hof""").head()
    assert(r.getInt(0) == 2 && r.getInt(1) == 2)
    assert(r.getInt(2) == 2, "null elements compare not-equal, count stays total")
    assert(r.getInt(3) == 2, "HOF agrees")
  }

  test("vec_dot/vec_norm: NULL elements yield SQL NULL, matching the HOF form") {
    val r = spark.sql("""
      SELECT vec_dot(array(1.0D, NULL), array(3.0D, 4.0D)) AS d,
             vec_norm(array(3.0D, NULL)) AS n,
             vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS ok,
             aggregate(zip_with(array(1.0D, NULL), array(3.0D, 4.0D),
               (x, y) -> x * y), 0D, (acc, x) -> acc + x) AS hof""").head()
    assert(r.isNullAt(0), "null element in left arg")
    assert(r.isNullAt(1), "null element in norm arg")
    assert(r.getDouble(2) == 11.0)
    assert(r.isNullAt(3), "HOF reference semantics: null poisons the sum")
  }

  test("minhash_agg rejects a non-constant affine flag with a clear error") {
    val e = intercept[Throwable] {
      spark.sql("SELECT minhash_agg(x, 8, x = 1) FROM VALUES (1L), (2L) t(x)").collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + " | " + messages(t.getCause)
    assert(messages(e).contains("affine must be a BOOLEAN constant"), messages(e))
  }

  test("sampling: deterministic, partitioning-invariant, subset-stable, stratified caps") {
    val df = spark.range(0, 200).select(col("id").as("doc_id"),
      concat(lit("text number "), col("id")).as("text"),
      (col("id") % 4).cast("string").as("lang"))
    val s5 = Sampling.deterministicSample(df, "text", 0.5)
    val c5 = s5.count()
    assert(c5 > 60 && c5 < 140, s"~half expected, got $c5")
    // pure function of content: same rows no matter how the input is split
    assert(Sampling.deterministicSample(df.repartition(7), "text", 0.5)
      .agg(sum("doc_id")).head.getLong(0) == s5.agg(sum("doc_id")).head.getLong(0))
    // nested samples: the 20% sample is a subset of the 50% sample
    val ids5 = s5.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.deterministicSample(df, "text", 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids2.subsetOf(ids5))
    // stratified: exactly n per stratum
    val st = Sampling.stratifiedTake(df, "lang", "text", 10, "doc_id")
    val counts = st.groupBy("lang").count().collect().map(_.getLong(1))
    assert(counts.length == 4 && counts.forall(_ == 10))
    // weighted: heavy-weight rows dominate the kept set
    val wdf = df.withColumn("wt", when(col("doc_id") < 100, lit(100.0)).otherwise(lit(0.01)))
    val heavy = Sampling.weightedStratifiedTake(wdf, "lang", "text", "wt", 10, "doc_id")
      .where(col("doc_id") < 100).count()
    assert(heavy >= 35, s"expected >=35 of 40 slots for heavy rows, got $heavy")
  }

  test("contrastive negatives: k per anchor, never the anchor, deterministic, uniform-ish") {
    val corpus = spark.range(0, 100).select(col("id").as("vec_id"),
      (col("id") % 7).cast("string").as("label"))
    val anchors = corpus.where(col("vec_id") < 10)
    val out = Sampling.contrastiveNegatives(anchors, corpus, "vec_id", k = 5)
    val rows = out.select("vec_id", "j", "neg_vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.length == 50)
    // every (anchor, j in 0..4) present exactly once; negative != anchor
    assert(rows.map(r => (r._1, r._2)).toSet ==
      (for (a <- 0L until 10L; j <- 0 until 5) yield (a, j)).toSet)
    assert(rows.forall { case (a, _, n) => n != a && n >= 0L && n < 100L })
    // pure function of the data: repartitioned input draws the same set
    val again = Sampling.contrastiveNegatives(
        anchors.repartition(7), corpus.repartition(5), "vec_id", k = 5)
      .select("vec_id", "j", "neg_vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(again.sorted.toSeq == rows.sorted.toSeq)
    // seed changes the draw
    val seeded = Sampling.contrastiveNegatives(anchors, corpus, "vec_id", k = 5, seed = 1L)
      .select("vec_id", "j", "neg_vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(seeded.sorted.toSeq != rows.sorted.toSeq)
    // hash-uniform: across 500 draws no single negative dominates
    val top = rows.groupBy(_._3).map(_._2.length).max
    assert(top <= 6, s"one negative drawn $top/50 times")
  }

  test("split assignment: total coverage, expected shares, append-stable, salt-decorrelated") {
    val df = spark.range(0, 1000).select(col("id").as("doc_id"),
      concat(lit("doc body number "), col("id")).as("text"))
    val splits = Sampling.assignSplits(df, "text")
    val byLabel = splits.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.values.sum == 1000 && byLabel.keySet == Set("train", "val", "test"))
    assert(byLabel("train") > 700 && byLabel("train") < 880, s"train share off: $byLabel")
    // append stability: the first 500 rows keep their labels when 500 more arrive
    val first = Sampling.assignSplits(df.where(col("doc_id") < 500), "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val full = splits.where(col("doc_id") < 500)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(first == full)
    // salt decorrelation: a 25% content-hash sample must NOT land entirely
    // in the train split (it would without the salt)
    val sampled = Sampling.assignSplits(
        Sampling.deterministicSample(df, "text", 0.25), "text")
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sampled.getOrElse("val", 0L) + sampled.getOrElse("test", 0L) > 0,
      s"sample fell entirely into train: $sampled")
    // weight validation
    intercept[IllegalArgumentException] {
      Sampling.assignSplits(df, "text", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("cosine LSH: derived prefixBits keeps avg bucket <= 500, floors at 4, caps at 16") {
    // the rule, pinned either side of each boundary (pure integer — the
    // DuckDB oracle replays the identical ceil-division search)
    assert(Embeddings.derivedPrefixBits(500L) == 4)      // tiny corpus: floor
    assert(Embeddings.derivedPrefixBits(8000L) == 4)     // 8000/16 = 500: still 4
    assert(Embeddings.derivedPrefixBits(8001L) == 5)     // one over: widen
    assert(Embeddings.derivedPrefixBits(2000000L) == 12) // 2M/4096 = 489
    assert(Embeddings.derivedPrefixBits(Long.MaxValue / 4) == 16) // cap
    // default (prefixBits = 0) derives: on a small corpus that means the
    // 4-bit floor — coarser buckets than any explicit wider setting, so
    // the candidate set is a superset and the found pair set must match
    // the explicit prefixBits = 4 run exactly
    val sps = spark; import sps.implicits._
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.cos(i * 3 + j) + (if (j == i % 8) 1.5 else 0.0)))
    }.toDF("vec_id", "vec")
    def pairs(p: Int) = Embeddings.cosineNearDuplicates(vecs, "vec", "vec_id", 0.8, prefixBits = p)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(0) == pairs(4))
  }

  test("ANN derived defaults: lsh prefixBits<=0 and ivf nlist<=0 derive from the corpus") {
    // derivedNlist: smallest power of two with occupancy <= cell count
    // (2^p ~ sqrt(n)), the pure-integer FAISS sizing ladder
    assert(Embeddings.derivedNlist(1L) == 1)
    assert(Embeddings.derivedNlist(2L) == 2)       // ceil(2/1)=2 > 1; p=1: 1 <= 2
    assert(Embeddings.derivedNlist(500L) == 32)    // sf0.01 corpus
    assert(Embeddings.derivedNlist(2000000L) == 2048) // sf100cd: sqrt(2M)=1414
    assert(Embeddings.derivedNlist(Long.MaxValue / 4) == 65536) // cap
    val sps = spark; import sps.implicits._
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 5 + j) + (if (j == i % 8) 2.0 else 0.0)))
    }.toDF("vec_id", "vec")
    val qs = vecs.limit(3).select(col("vec_id").as("qid"), col("vec").as("qvec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // derived == explicit at the value the rule yields for n=60 (p=3: 8)
    assert(Embeddings.derivedNlist(60L) == 8)
    assert(rows(Embeddings.ivfTopK(vecs, "vec", "vec_id", qs, "qvec", "qid",
        k = 3, nlist = 0).select("query_id", "rank", "neighbor_id"))
      == rows(Embeddings.ivfTopK(vecs, "vec", "vec_id", qs, "qvec", "qid",
        k = 3, nlist = 8).select("query_id", "rank", "neighbor_id")))
    // lshTopK: prefixBits <= 0 derives the 4-bit floor on a tiny corpus
    assert(rows(Embeddings.lshTopK(vecs, "vec", "vec_id", qs, "qvec", "qid",
        k = 3, prefixBits = 0).select("query_id", "rank", "neighbor_id"))
      == rows(Embeddings.lshTopK(vecs, "vec", "vec_id", qs, "qvec", "qid",
        k = 3, prefixBits = 4).select("query_id", "rank", "neighbor_id")))
  }

  test("semdedup: derived k pins occupancy at 1000, clamps to [32, 65536], derived == explicit") {
    // the rule, pinned either side of each boundary (pure integer — the
    // DuckDB oracle replays GREATEST(LEAST((n+999)//1000, 65536), 32))
    assert(Embeddings.derivedSemDedupK(1L) == 32)            // parallelism floor
    assert(Embeddings.derivedSemDedupK(32000L) == 32)        // 32000/1000 = floor
    assert(Embeddings.derivedSemDedupK(32001L) == 33)        // one over: split
    assert(Embeddings.derivedSemDedupK(2000000L) == 2000)    // the sf100cd corpus
    assert(Embeddings.derivedSemDedupK(Long.MaxValue / 4) == 65536) // driver cap
    intercept[IllegalArgumentException] { Embeddings.derivedSemDedupK(0L) }
    // k = 0 threads the derived value through the SAME kmeansFit the
    // explicit path uses: equality at the floor (n = 10500 -> k = 32),
    // assignment-only so the spec stays cheap
    val sps = spark; import sps.implicits._
    val many = sps.range(0, 10500).select(col("id").as("vec_id"),
      array((col("id") % 7).cast("double"), (col("id") % 11).cast("double"),
        lit(1.0)).as("vec"))
    val derived = Embeddings.kmeansLloyd(many, "vec", "vec_id", k = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val explicitK = Embeddings.kmeansLloyd(many, "vec", "vec_id", k = 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(derived == explicitK)
    assert(derived.values.toSet.size > 1, "expected multiple live clusters")
    // and the semdedup wiring itself: k = 0 == k = 32 on a small corpus
    // (n < k: the fit deterministically keeps all n seed vectors)
    val six = sps.createDataFrame(Seq(
      (1L, Seq(1.0, 0.0, 0.1)), (2L, Seq(0.0, 1.0, 0.1)),
      (3L, Seq(0.99, 0.01, 0.1)), (4L, Seq(0.01, 0.99, 0.1))
    )).toDF("vec_id", "vec")
    val d0 = Embeddings.semanticDeduplicate(six, "vec", "vec_id", k = 0, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val d1 = Embeddings.semanticDeduplicate(six, "vec", "vec_id", k = 32, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(d0 == d1)
  }

  test("group-aware split: groups never span splits, singletons fall back to row split") {
    val df = spark.range(0, 1000).select(col("id").as("doc_id"),
      concat(lit("doc body number "), col("id")).as("text"))
    val sps = spark; import sps.implicits._
    // 100 groups of 3 (ids 0..299 -> label = id % 100), rest singleton
    val groups = spark.range(0, 300)
      .select(col("id"), (col("id") % 100).as("label"))
      .toDF("id", "label")
    val out = Sampling.assignSplitsByGroup(df, "doc_id", groups)
    assert(out.count() == 1000) // total over df, grouped or not
    // the invariant: no group's members land in two different splits
    val leaked = out.join(groups.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
      .groupBy("label").agg(countDistinct(col("split")).as("ns"))
      .where(col("ns") > 1).count()
    assert(leaked == 0, s"$leaked groups split across splits")
    // ungrouped rows get exactly the singleton (own-id) assignment —
    // equal to assignSplits keyed on the id itself
    val single = Sampling.assignSplits(df.where(col("doc_id") >= 300), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val viaGroup = out.where(col("doc_id") >= 300)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(single == viaGroup)
    // reserved-name guard
    intercept[IllegalArgumentException] {
      Sampling.assignSplitsByGroup(df.withColumn("__gkey", lit(1)), "doc_id", groups)
    }
  }

  test("embedding normalize + int8 quantize") {
    val r = spark.sql("SELECT array(3.0D, -4.0D, 0.0D) AS vec, array(0.0D, 0.0D) AS zvec")
      .select(Embeddings.normalize(col("vec")).as("n"),
        Embeddings.quantizeInt8(col("vec")).as("q"),
        Embeddings.quantScale(col("vec")).as("s"),
        Embeddings.normalize(col("zvec")).as("zn"),
        Embeddings.quantizeInt8(col("zvec")).as("zq")).head()
    val n = r.getSeq[Double](0)
    assert(math.abs(n(0) - 0.6) < 1e-15 && math.abs(n(1) + 0.8) < 1e-15 && n(2) == 0.0)
    // scale = 127/4: 3*31.75 = 95.25 -> 95; -4 -> -127; 0 -> 0
    assert(r.getSeq[Int](1) == Seq(95, -127, 0))
    assert(r.getDouble(2) == 4.0 / 127.0)
    // zero vector: passthrough / zeros, no division by zero
    assert(r.getSeq[Double](3) == Seq(0.0, 0.0) && r.getSeq[Int](4) == Seq(0, 0))
    // DataFrame-level forms (norm/max projected once per row) agree exactly
    val df = spark.sql("""SELECT * FROM VALUES (array(3.0D, -4.0D, 0.0D)), (array(0.0D, 0.0D, 0.0D)),
      (array(0.25D, -0.5D, 1.5D)) t(vec)""")
    val staged = Embeddings.withInt8Quantized(Embeddings.withNormalized(df, "vec", "vn"),
      "vec", "q", "s").collect()
    val colForm = df.select(Embeddings.normalize(col("vec")).as("vn"),
      Embeddings.quantizeInt8(col("vec")).as("q"), Embeddings.quantScale(col("vec")).as("s")).collect()
    staged.zip(colForm).foreach { case (a, b) =>
      assert(a.getSeq[Double](a.fieldIndex("vn")) == b.getSeq[Double](0))
      assert(a.getSeq[Int](a.fieldIndex("q")) == b.getSeq[Int](1))
      assert(a.getDouble(a.fieldIndex("s")) == b.getDouble(2))
    }
  }

  test("int8 quantization roundtrip error is bounded by half a scale step") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
    val staged = Embeddings.withInt8Quantized(emb, "vec", "q", "s")
    val bad = staged.select(
        expr("filter(zip_with(vec, q, (x, qi) -> abs(qi * s - x)), e -> e > s * 0.5 + 1e-12)").as("errs"),
        expr("filter(q, qi -> qi < -127 OR qi > 127)").as("oob"))
      .where(size(col("errs")) > 0 || size(col("oob")) > 0)
      .count()
    assert(bad == 0L, "every dequantized component within half a step, all values in [-127, 127]")
  }

  test("decontamination flags exactly the held-out overlaps (whitespace-normalized)") {
    val corpus = spark.createDataFrame(Seq(
      (1L, "the held out answer text"),
      (2L, "the  held   out answer text"), // same after whitespace normalization
      (3L, "completely unrelated content here"),
      (4L, "another clean document body"))).toDF("doc_id", "text")
    val heldOut = spark.createDataFrame(Seq(
      (100L, "the held out answer text"))).toDF("doc_id", "text")
    val flagged = Dedup.flagContaminated(corpus, heldOut, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(flagged.sameElements(Array(1L, 2L)), flagged.mkString(","))
  }

  test("document chunking: overlap coverage, final partial chunk, tiny docs") {
    val df = spark.createDataFrame(Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "only two"))).toDF("doc_id", "text")
    val rows = TextAnalysis.chunkDocuments(df, "text", "doc_id", 4, 1)
      .orderBy("doc_id", "chunk_idx").collect()
    val doc1 = rows.filter(_.getLong(0) == 1L)
    // stride 3: [t1..t4], [t4..t7], [t7..t10] — every token covered, no
    // trailing sliver chunk
    assert(doc1.map(_.getString(2)).toSeq == Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(doc1.map(_.getInt(3)).toSeq == Seq(4, 4, 4))
    val doc2 = rows.filter(_.getLong(0) == 2L)
    assert(doc2.length == 1 && doc2.head.getString(2) == "only two" && doc2.head.getInt(3) == 2)
    // uneven tail: 11 tokens -> last chunk holds 2
    val tail = TextAnalysis.chunkDocuments(
      spark.createDataFrame(Seq((3L, (1 to 11).map(i => s"t$i").mkString(" ")))).toDF("doc_id", "text"),
      "text", "doc_id", 4, 1).orderBy("chunk_idx").collect()
    assert(tail.map(_.getInt(3)).toSeq == Seq(4, 4, 4, 2))
  }

  test("pii redaction replaces emails and urls") {
    val df = spark.createDataFrame(Seq(
      (1L, "contact me at john.doe+x@example.com or https://ex.org/a?b=1 today"),
      (2L, "no pii here at all"))).toDF("doc_id", "text")
    val out = df.select(TextAnalysis.redactPii(col("text")).as("c")).collect().map(_.getString(0))
    assert(out(0) == "contact me at <EMAIL> or <URL> today")
    assert(out(1) == "no pii here at all")
  }

  test("top tokens: count-desc then lexicographic, empties dropped") {
    val df = spark.createDataFrame(Seq(
      (1L, "b a a  c b a"), (2L, "c b "))).toDF("doc_id", "text")
    val rows = TextAnalysis.topTokens(df, "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("a", 3L), ("b", 3L), ("c", 2L)))
  }

  test("deterministicTake: exact n, partition-invariant, append-monotone, TakeOrdered plan") {
    val sps = spark; import sps.implicits._
    val df = (1 to 400).map(i => (i.toLong, s"doc content $i")).toDF("id", "t")
    def take(d: org.apache.spark.sql.DataFrame, n: Int) =
      Sampling.deterministicTake(d, "t", n, "id").collect().map(_.getLong(0)).toSet
    val s100 = take(df, 100)
    assert(s100.size == 100)
    // partitioning never changes the sample
    assert(take(df.repartition(13), 100) == s100)
    // append-monotone: adding rows churns at most the boundary — the new
    // sample is a subset of (old sample + the added rows)
    val grown = df.union(Seq((900L, "fresh a"), (901L, "fresh b")).toDF("id", "t"))
    val g100 = take(grown, 100)
    assert(g100.size == 100 && g100.subsetOf(s100 ++ Set(900L, 901L)))
    // n >= corpus: everything; n = 0: nothing
    assert(take(df, 500).size == 400 && take(df, 0).isEmpty)
    // plan: bounded-heap TakeOrdered, no global Sort, no Exchange
    val plan = Sampling.deterministicTake(df, "t", 10, "id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("tokenBudgetTake: greedy prefix per stratum, no backfill, exact boundary") {
    val sps = spark; import sps.implicits._
    val df = Seq(
      // stratum a, priority = quality desc: 60 + 30 fills 90 of 100;
      // next (20) would hit 110 -> dropped, and the LATER 10 is NOT
      // back-filled (prefix semantics), even though it would fit
      (1L, "a", 60L, 9.0), (2L, "a", 30L, 8.0), (3L, "a", 20L, 7.0),
      (4L, "a", 10L, 6.0),
      // stratum b: single doc exactly at budget -> kept (<= is inclusive)
      (5L, "b", 100L, 5.0),
      // stratum c: first doc alone overflows -> stratum keeps nothing
      (6L, "c", 101L, 9.9), (7L, "c", 1L, 0.1)
    ).toDF("id", "src", "toks", "q")
    val kept = Sampling.tokenBudgetTake(df, "src", "toks", 100L,
        Seq(col("q").desc, col("id")))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 5L), s"kept $kept")
    // helper column collision fails fast
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetTake(df.withColumn("__cum", lit(1)), "src", "toks",
        10L, Seq(col("id")))
    }
    // negative token counts break prefix monotonicity -> raise, never a
    // silent non-prefix result
    val neg = Seq((1L, "a", 60L, 9.0), (2L, "a", -5L, 8.0))
      .toDF("id", "src", "toks", "q")
    val err = intercept[Exception] {
      Sampling.tokenBudgetTake(neg, "src", "toks", 100L,
        Seq(col("q").desc, col("id"))).collect()
    }
    assert(err.getMessage.contains("prefix contract"), err.getMessage)
  }

  test("pseudonymizeEmails: stable tokens, co-reference survives, substring ordering") {
    val sps = spark; import sps.implicits._
    def run(t: String): String = Seq(Tuple1(t)).toDF("t")
      .select(TextAnalysis.pseudonymizeEmails(col("t"))).head().getString(0)
    // same address -> same token (co-reference survives); different -> different
    val out = run("alice@x.com wrote to bob@y.org, then alice@x.com replied")
    val tok = "user_[0-9a-f]{8}@redacted\\.invalid".r
    val toks = tok.findAllIn(out).toSeq
    assert(toks.size == 3 && toks(0) == toks(2) && toks(0) != toks(1), out)
    assert(!out.contains("alice@x.com") && !out.contains("bob@y.org"), out)
    // deterministic: the token is the md5 prefix of the address
    val expected = "user_" + org.apache.commons.codec.digest.DigestUtils
      .md5Hex("alice@x.com").take(8) + "@redacted.invalid"
    assert(out.startsWith(expected), s"$out vs $expected")
    // substring hazard: a@b.co inside xa@b.co — longest replaced first,
    // the standalone short address still gets its OWN token
    val hz = run("see xa@b.co and a@b.co")
    val hzToks = tok.findAllIn(hz).toSeq
    assert(hzToks.size == 2 && hzToks(0) != hzToks(1), hz)
    assert(!hz.contains("@b.co"), hz)
    // no matches / NULL: pass through
    assert(run("no addresses here") == "no addresses here")
    val n = Seq(Tuple1(null.asInstanceOf[String])).toDF("t")
      .select(TextAnalysis.pseudonymizeEmails(col("t"))).head()
    assert(n.isNullAt(0))
    // over maxDistinct: fail CLOSED — every address still redacted, to
    // the single generic token (identity lost, PII gone)
    val many = (1 to 5).map(i => s"p$i@x.com").mkString(" ")
    val capped = Seq(Tuple1(many)).toDF("t")
      .select(TextAnalysis.pseudonymizeEmails(col("t"), maxDistinct = 3))
      .head().getString(0)
    assert(capped == Seq.fill(5)("user_overflow@redacted.invalid").mkString(" "), capped)
    // at the cap boundary: per-address tokens still assigned
    val atCap = Seq(Tuple1(many)).toDF("t")
      .select(TextAnalysis.pseudonymizeEmails(col("t"), maxDistinct = 5))
      .head().getString(0)
    assert(!atCap.contains("user_overflow") && !atCap.contains("@x.com"), atCap)
  }

  test("mojibakeReport: hand-counted artifacts, ppm math, clean text scores zero") {
    val sps = spark; import sps.implicits._
    val eAcute = "Ã©"   // e-acute mojibake (2 chars)
    val rQuote = "â€™" // right-quote mojibake (3 chars)
    val nbsp = "Â "     // nbsp mojibake (2 chars)
    val df = Seq(
      (1L, s"caf$eAcute$eAcute don${rQuote}t$nbsp"), // 2 + 1 + 1 = 4 hits, 14 chars
      (2L, "perfectly clean ascii text."),
      (3L, ""),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.mojibakeReport(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 4L, s"hits ${out(1L).getLong(1)}")
    val chars1 = out(1L).getLong(2)
    assert(chars1 == 3 + 2 + 2 + 4 + 3 + 1 + 2, s"chars $chars1") // caf ÃÃ©(2+2) _don ™(3) t nbsp(2)
    assert(out(1L).getLong(3) == 4L * 1000000L / chars1)
    assert(out(2L).getLong(1) == 0L && out(2L).getLong(3) == 0L)
    assert(out(3L).getLong(1) == 0L && out(3L).getLong(3) == 0L, "empty doc: 0 ppm")
    assert(out(4L).isNullAt(1) && out(4L).isNullAt(2), "NULL text passes through")
    // every artifact in the table counts exactly once when present once
    val all = TextAnalysis.MojibakeArtifacts.mkString(" ")
    val one = Seq((9L, all)).toDF("doc_id", "text")
    assert(TextAnalysis.mojibakeReport(one, "text", "doc_id").head().getLong(1)
      == TextAnalysis.MojibakeArtifacts.size.toLong)
  }

  test("corpusReport: NULL-consistent partition; approx HLL mode is one scan, same values") {
    val sps = spark; import sps.implicits._
    val df = Seq(
      (1L, "a b c", "en", "web"),
      (2L, "a b c", "en", "web"),                    // exact duplicate of 1
      (3L, "", "de", "book"),                        // empty text
      (4L, null.asInstanceOf[String], "en", "web"),  // NULL text
      (5L, "x y", null.asInstanceOf[String], null.asInstanceOf[String])
    ).toDF("doc_id", "text", "lang", "source")
    def m(ap: Boolean) = TextAnalysis.corpusReport(df, "text", "doc_id",
        "lang", "source", approx = ap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = m(false)
    assert(exact("docs") == 5 && exact("null_docs") == 1 && exact("empty_docs") == 1)
    assert(exact("distinct_texts") == 3 && exact("duplicate_docs") == 1)
    assert(exact("sources") == 2 && exact("languages") == 2, exact.toString)
    // the partition contract: docs = null_docs + distinct + duplicates
    assert(exact("docs") ==
      exact("null_docs") + exact("distinct_texts") + exact("duplicate_docs"))
    // approx mode: HLL is exact at these cardinalities -> identical report
    assert(m(true) == exact, s"${m(true)} vs $exact")
    // and the plan is ONE scan: single leaf, no Expand, no join of any kind
    val ap = TextAnalysis.corpusReport(df, "text", "doc_id", "lang", "source",
      approx = true)
    assert(ap.queryExecution.optimizedPlan.collectLeaves().size == 1)
    val exec = ap.queryExecution.executedPlan.toString
    assert(!exec.contains("Expand") && !exec.contains("Join"), exec)
    // the exact mode, by contrast, scans more than once (the optimizer
    // may fuse some narrow pairs, but never down to a single pass)
    val ex = TextAnalysis.corpusReport(df, "text", "doc_id", "lang", "source")
    assert(ex.queryExecution.optimizedPlan.collectLeaves().size >= 2)
  }

  test("lsh maxBucketSize guard drops pathological buckets fail-soft") {
    // 12 identical docs: every band bucket holds all 12 -> 66 candidate pairs
    val dup = spark.createDataFrame((1 to 12).map(i =>
      (i.toLong, "same text repeated for every document in this tiny corpus again and again")))
      .toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(Dedup.shingleHashes(dup, "text", "doc_id", 3), 32)
    assert(Dedup.lshNearDuplicatePairs(sigs, 8, 32).count() == 66L)
    // cap below the bucket size: the bucket is dropped, the query survives
    assert(Dedup.lshNearDuplicatePairs(sigs, 8, 32, maxBucketSize = 8).count() == 0L)
    // cap above it: identical results to uncapped
    assert(Dedup.lshNearDuplicatePairs(sigs, 8, 32, maxBucketSize = 12).count() == 66L)
  }

  test("lsh guard publishes dropped-bucket counts through the observable metric") {
    // with AQE on (the session default) a cap that drops every bucket
    // empties the plan branch, and a Dataset.observe metric there is
    // never reported; the run record's accumulators still are
    val dup = spark.createDataFrame((1 to 12).map(i =>
      (i.toLong, "same text repeated for every document in this tiny corpus again and again")))
      .toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(Dedup.shingleHashes(dup, "text", "doc_id", 3), 32)
    val pairs = Dedup.lshNearDuplicatePairs(sigs, 8, 32, maxBucketSize = 8)
    val run = Telemetry.runs("graft_lsh_buckets").last
    assert(pairs.collect().isEmpty)
    assert(run.dropped.value == 8L, "all 8 band buckets over the cap")
    assert(run.max.value == 12L)
  }

  test("histDrift: per-slot counts, fractions, integer L1") {
    val s = spark
    import s.implicits._
    val oldV = Seq(1.0, 1.0, 3.0, 9.0).toDF("v")    // bins(4,[0,8)): 2@b0, 1@b1, 1 above
    val newV = Seq(1.0, 5.0, 5.0, -1.0).toDF("v")   // 1@b0, 2@b2, 1 below
    val rows = Profile.histDrift(oldV, newV, "v", 4, 0.0, 8.0)
      .orderBy("slot").collect()
    val bySlot = rows.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bySlot == Map(0 -> (0L, 1L), 1 -> (2L, 1L), 2 -> (1L, 0L),
      3 -> (0L, 2L), 5 -> (1L, 0L)))
    // fractions in micro-units of each side's total (4 rows each)
    val r1 = rows.find(_.getInt(0) == 1).get
    assert(r1.getLong(3) == 500000L && r1.getLong(4) == 250000L)
    // L1 over ALL slots (incl. zero-count ones): |0-250000| + |500000-250000|
    // + |250000-0| + |0-500000| + |0-0| + |250000-0| = 1500000
    assert(rows.forall(_.getLong(5) == 1500000L))
  }

  test("corpus diff: added/removed/changed/unchanged statuses") {
    val s = spark
    import s.implicits._
    val oldV = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val newV = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "text")
    val got = Dedup.corpusDiff(oldV, newV, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed", 4L -> "added"))
  }

  test("hybrid search: rrf fusion order, candidate bound, guard") {
    val s = spark
    import s.implicits._
    // 4 docs: doc 1 wins bm25 (term-rich), doc 3 wins cosine; rrf balances
    val docs = Seq(
      (1L, "spark spark spark filler filler"),
      (2L, "spark query filler filler filler"),
      (3L, "unrelated words entirely different content"),
      (4L, "spark query engine filler filler")
    ).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Seq(0.0, 1.0)), (2L, Seq(0.6, 0.8)), (3L, Seq(1.0, 0.0)), (4L, Seq(0.8, 0.6))
    ).toDF("vec_id", "vec").select(col("vec_id"),
      expr("transform(vec, x -> CAST(x AS DOUBLE))").as("vec"))
    val out = Ranking.hybridSearch(docs, "text", "doc_id", Seq("spark", "query"),
      emb, "vec", "vec_id", Seq(1.0, 0.0), candidates = 4, k = 4).collect()
    assert(out.length == 4)
    // rank_cosine: doc 3 (cos=1) first; rank_bm25: doc 1 or 4 high — the
    // fused winner must dominate on combined rank; verify rrf is computed
    // from the two integer ranks exactly
    out.foreach { r =>
      val (rb, rc, rrf) = (r.getInt(2), r.getInt(3), r.getDouble(4))
      assert(rrf == 1.0 / (60 + rb) + 1.0 / (60 + rc))
    }
    assert(out.map(_.getInt(1)).toSeq == Seq(1, 2, 3, 4))
    // candidate bound: k > candidates rejected
    intercept[IllegalArgumentException] {
      Ranking.hybridSearch(docs, "text", "doc_id", Seq("spark"),
        emb, "vec", "vec_id", Seq(1.0, 0.0), candidates = 2, k = 5)
    }
    // reserved helper name guard
    intercept[IllegalArgumentException] {
      Ranking.hybridSearch(docs.withColumn("__cos", lit(1)), "text", "doc_id",
        Seq("spark"), emb, "vec", "vec_id", Seq(1.0, 0.0))
    }
  }

  test("binary quantize: LSB-first packing, multi-word vectors, hamming") {
    val sps = spark; import sps.implicits._
    val vecs = Seq(
      (1L, Array(1.0, -2.0, 3.0)),                       // bits 0,2 -> 0b101
      (2L, Array(-1.0, 2.0, -3.0)),                      // bit 1    -> 0b010
      (3L, Array.fill(70)(1.0)),                         // two words: -1L, 0x3F
      (4L, Array.tabulate(70)(i => if (i == 69) -1.0 else 1.0))
    ).toDF("vec_id", "vec")
    val sigs = vecs.select($"vec_id", Embeddings.quantizeBinary($"vec").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == Seq(5L))
    assert(sigs(2L) == Seq(2L))
    assert(sigs(3L) == Seq(-1L, 0x3FL))
    assert(sigs(4L) == Seq(-1L, 0x1FL)) // bit 69 -> word 1 bit 5 cleared
    // hamming = sign disagreements; multi-word xor popcount spans words
    val ham = vecs.where($"vec_id".isin(1L, 2L))
      .select(Embeddings.quantizeBinary($"vec").as("s")).collect()
    val d = spark.range(1).select(Embeddings.wordHamming(
        typedLit(sigs(1L)), typedLit(sigs(2L))).as("h"))
      .head().getInt(0)
    assert(d == 3 && ham.length == 2)
    assert(spark.range(1).select(Embeddings.wordHamming(
      typedLit(sigs(3L)), typedLit(sigs(4L)))).head().getInt(0) == 1)
  }

  test("hamming top-k: full candidate budget reproduces brute force; prescreen bounds work") {
    val sps = spark; import sps.implicits._
    // deterministic spread of 10 vectors on varied sign patterns
    val vecs = (0 until 10).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j + 1.0) + (if ((i + j) % 3 == 0) 0.5 else -0.25)))
    }.toDF("vec_id", "vec")
    val queries = vecs.where($"vec_id" < 2).select($"vec_id".as("qid"), $"vec".as("qvec"))
    // candidates >= corpus: the rerank sees every non-self vector, so the
    // result must equal exact brute force rank-for-rank
    val full = Embeddings.hammingTopK(vecs, "vec", "vec_id", queries, "qvec", "qid",
        k = 3, candidates = 9)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val brute = Embeddings.bruteForceTopK(vecs, "vec", "vec_id", queries, "qvec", "qid", 3)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(full == brute)
    // tight budget: k results still returned, all from the hamming top-c set
    val tight = Embeddings.hammingTopK(vecs, "vec", "vec_id", queries, "qvec", "qid",
      k = 2, candidates = 3).collect()
    assert(tight.count(_.getLong(0) == 0L) == 2 && tight.count(_.getLong(0) == 1L) == 2)
    // every returned hamming must be within the 3 smallest for its query
    val sigs = vecs.select($"vec_id", Embeddings.quantizeBinary($"vec").as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def hm(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    for (q <- Seq(0L, 1L)) {
      val dists = (0L until 10L).filter(_ != q).map(n => hm(sigs(q), sigs(n))).sorted
      val cut = dists(2)
      tight.filter(_.getLong(0) == q).foreach(r => assert(r.getInt(4) <= cut))
    }
    intercept[IllegalArgumentException] {
      Embeddings.hammingTopK(vecs, "vec", "vec_id", queries, "qvec", "qid",
        k = 5, candidates = 3)
    }
  }

  test("hamming top-k: default candidate budget is corpus-scaled, max(4k, n/1000)") {
    // the derivation rule itself, pinned at two corpus sizes each side of
    // the crossover: small corpora keep the 4k floor, large corpora scale
    // with n (a fixed default decays to zero recall as n grows — SCALE.md
    // round-12 measured 0.04 at sf10cd under fixed 20)
    assert(Embeddings.derivedHammingBudget(k = 5, n = 2000L) == 20)    // floor: 4k > n/1000
    assert(Embeddings.derivedHammingBudget(k = 5, n = 200000L) == 200) // scaled: n/1000
    assert(Embeddings.derivedHammingBudget(k = 10, n = 39999L) == 40)  // floor edge
    assert(Embeddings.derivedHammingBudget(k = 10, n = 41000L) == 41)  // just past it
    // and the operator actually uses it: candidates = 0 on a 10-vector
    // corpus derives 4k = 8 >= corpus, so the default must reproduce
    // brute force exactly (same shape as the full-budget assertion above)
    val sps = spark; import sps.implicits._
    val vecs = (0 until 10).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j + 1.0) + (if ((i + j) % 3 == 0) 0.5 else -0.25)))
    }.toDF("vec_id", "vec")
    val queries = vecs.where($"vec_id" < 2).select($"vec_id".as("qid"), $"vec".as("qvec"))
    val dflt = Embeddings.hammingTopK(vecs, "vec", "vec_id", queries, "qvec", "qid", k = 2)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val brute = Embeddings.bruteForceTopK(vecs, "vec", "vec_id", queries, "qvec", "qid", 2)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(dflt == brute)
  }

  test("mmr rerank: diversity beats redundancy, lambda=1 is relevance order, cap guards") {
    val sps = spark; import sps.implicits._
    // query along +x; a and b nearly identical high-relevance, c orthogonal-ish
    // moderate relevance: pure relevance ranks (a, b, ...), MMR (lambda=0.7)
    // must pick c second
    val cands = Seq(
      (1L, 10L, 0.99, Seq(1.0, 0.01, 0.0)),   // a
      (1L, 11L, 0.98, Seq(1.0, 0.02, 0.0)),   // b  (near-duplicate of a)
      (1L, 12L, 0.60, Seq(0.1, 1.0, 0.0)),    // c  (diverse)
      (1L, 13L, 0.55, Seq(0.1, 0.9, 0.1)))    // d
      .toDF("qid", "id", "rel", "vec")
    val mmr = Embeddings.mmrRerank(cands, "qid", "id", "rel", "vec", k = 3)
      .orderBy("mmr_rank").collect()
    assert(mmr.map(_.getLong(2)).toSeq == Seq(10L, 12L, 11L))
    // rank-1 score is pure relevance: lambda * relE6
    assert(mmr.head.getLong(3) == 700000L * 990000L)
    // lambda = 1.0 degenerates to relevance order (ties to smaller id)
    val rel = Embeddings.mmrRerank(cands, "qid", "id", "rel", "vec", k = 4,
      lambdaPpm = 1000000L).orderBy("mmr_rank").collect()
    assert(rel.map(_.getLong(2)).toSeq == Seq(10L, 11L, 12L, 13L))
    // candidate-budget guard fails fast
    val e = intercept[org.apache.spark.SparkException] {
      Embeddings.mmrRerank(cands, "qid", "id", "rel", "vec", k = 2,
        maxCandidates = 2).collect()
    }
    assert(e.getMessage != null)
  }

  test("pca: jacobi eigen, fit recovers dominant axis, projection matches by hand") {
    // closed-form 2x2: eigenvalues 3 and 1, eigenvectors (1,1)/sqrt2, (1,-1)/sqrt2
    val (vals, vecs) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    val sorted = vals.zipWithIndex.sortBy(-_._1)
    assert(math.abs(sorted(0)._1 - 3.0) < 1e-12 && math.abs(sorted(1)._1 - 1.0) < 1e-12)
    val v0 = Array(vecs(0)(sorted(0)._2), vecs(1)(sorted(0)._2))
    assert(math.abs(math.abs(v0(0)) - math.abs(v0(1))) < 1e-12)

    val sps = spark; import sps.implicits._
    // points on the line t*(3,4)/5 + deterministic small orthogonal noise.
    // The noise factors are even in t (so Σ t·eps = 0: no tilt of the
    // dominant axis) and sum to zero over t = -5..5 (2 + 2·(1-1+1-1-1) = 0:
    // the empirical mean is exactly the line offset).
    val d = Array(0.6, 0.8); val o = Array(-0.8, 0.6)
    val epsByAbsT = Array(2, 1, -1, 1, -1, -1)
    val pts = (-5 to 5).map { t =>
      val eps = 0.05 * epsByAbsT(math.abs(t))
      (t.toLong, Array(t * d(0) + eps * o(0) + 10.0, t * d(1) + eps * o(1) - 3.0))
    }.toDF("id", "vec")
    val model = Pca.fit(pts, "vec", k = 2)
    assert(math.abs(model.mean(0) - 10.0) < 1e-9 && math.abs(model.mean(1) + 3.0) < 1e-9)
    // dominant component is the line direction (sign-canonicalized)
    assert(math.abs(math.abs(model.components(0)(0)) - 0.6) < 1e-3)
    assert(math.abs(math.abs(model.components(0)(1)) - 0.8) < 1e-3)
    assert(model.eigenvalues(0) > model.eigenvalues(1) && model.eigenvalues(1) >= 0)
    assert(model.explainedVariance(1) > 0.97)
    // orthonormal components
    val dot01 = model.components(0).zip(model.components(1)).map { case (a, b) => a * b }.sum
    assert(math.abs(dot01) < 1e-9)
    // projection = centered dot product, checked by hand on one row
    val proj = Pca.project(pts, "vec", model).where($"id" === 3L)
      .select("pca").head().getSeq[Double](0)
    val raw = pts.where($"id" === 3L).select("vec").head().getSeq[Double](0)
    val centered = raw.toArray.zip(model.mean).map { case (a, m) => a - m }
    val exp0 = centered.zip(model.components(0)).map { case (a, w) => a * w }.sum
    assert(math.abs(proj(0) - exp0) < 1e-12)
    // uncentered mode: zero mean, second-moment eigenbasis
    val raw2 = Pca.fit(pts, "vec", k = 1, center = false)
    assert(raw2.mean.forall(_ == 0.0))
  }

  test("pca gram matrix: double mode equals hand-computed sums, e6 mode is integer-exact") {
    val sps = spark; import sps.implicits._
    val rows = Seq(
      Array(1.0f, 2.0f, -1.5f),
      Array(0.5f, -1.0f, 2.0f),
      Array(3.0f, 0.25f, 0.125f))
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
    val gram = Pca.gramMatrix(df, "vec").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(gram.size == 6)
    for (i <- 0 until 3; j <- i until 3) {
      val exp = rows.map(v => v(i).toDouble * v(j).toDouble).sum
      assert(math.abs(gram((i, j)) - exp) < 1e-12, s"entry ($i,$j)")
    }
    val e6 = Pca.gramMatrix(df, "vec", roundE6 = true).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    for (i <- 0 until 3; j <- i until 3) {
      val exp = rows.map(v => math.floor(v(i).toDouble * v(j).toDouble * 1e6 + 0.5).toLong).sum
      assert(e6((i, j)) == exp, s"e6 entry ($i,$j)")
    }
  }

  test("pca gram agg: partition-invariant e6 sums; ragged and null elements skip their pairs") {
    val sps = spark; import sps.implicits._
    // ragged lengths (2, 3) and an embedded NULL: a NULL element contributes
    // to NO pair; a short row contributes only to the pairs it has — the
    // semantics of the SQL sum-of-products form GramAgg replaced
    val rows: Seq[Seq[Option[Double]]] = Seq(
      Seq(Some(1.5), Some(-2.0)),
      Seq(Some(0.25), None, Some(4.0)),
      Seq(Some(-1.0), Some(3.0), Some(0.5)))
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
    def expected(i: Int, j: Int): Long = rows.flatMap { v =>
      if (j < v.length) for (a <- v(i); b <- v(j))
        yield math.floor(a * b * 1e6 + 0.5).toLong
      else None
    }.sum
    for (parts <- Seq(1, 7)) {
      val got = Pca.gramMatrix(df.repartition(parts), "vec", roundE6 = true).collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
      assert(got.size == 6, s"parts=$parts")
      for (i <- 0 until 3; j <- i until 3)
        assert(got((i, j)) == expected(i, j), s"parts=$parts entry ($i,$j)")
    }
    // empty input: the single agg row holds NULL, explode drops it
    assert(Pca.gramMatrix(df.where($"id" < 0), "vec").collect().isEmpty)
  }

  test("pca exactReplay fit: partition-invariant model, within noise of double mode") {
    val sps = spark; import sps.implicits._
    val pts = (0 until 64).map { t =>
      (t.toLong, Array(math.sin(t * 0.7) * 3 + 1.0, math.cos(t * 0.9) * 2 - 0.5,
        math.sin(t * 1.3) * 0.7))
    }.toDF("id", "vec")
    val m1 = Pca.fit(pts.repartition(1), "vec", k = 3, exactReplay = true)
    val m2 = Pca.fit(pts.repartition(13), "vec", k = 3, exactReplay = true)
    // integer gram sums: bit-identical model whatever the partitioning
    assert(m1.mean.sameElements(m2.mean))
    assert(m1.eigenvalues.sameElements(m2.eigenvalues))
    assert(m1.components.zip(m2.components).forall { case (a, b) => a.sameElements(b) })
    // e6 micropoints only perturb the covariance at ~1e-6: same axes as
    // the double fit to far beyond that
    val md = Pca.fit(pts, "vec", k = 3)
    m1.eigenvalues.zip(md.eigenvalues).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-4, s"$a vs $b") }
    m1.components.zip(md.components).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-4) } }
  }

  test("pca pinned model: sf0.01 exactReplay re-fit equals PcaPinnedModels.sf001K4 bit-for-bit") {
    // the q_pca_project gate projects this pin on BOTH sides (Spark and the
    // oracle literals), so the gate stays live at every scale factor; this
    // spec is what keeps the pin honest — if the fit ever drifts from the
    // literals, it fails here, not silently in a re-pinned oracle
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
    val fit = Pca.fit(emb, "vec", k = 4, exactReplay = true)
    val pin = graft.operators.PcaPinnedModels.sf001K4
    assert(fit.mean.sameElements(pin.mean))
    assert(fit.components.length == pin.components.length)
    fit.components.zip(pin.components).foreach { case (a, b) =>
      assert(a.sameElements(b)) }
    // length asserted BEFORE zip — zip truncates to the common prefix, so
    // a fit returning fewer eigenvalues would otherwise silently pass
    assert(fit.eigenvalues.length == pin.eigenvalues.length)
    fit.eigenvalues.zip(pin.eigenvalues).foreach { case (a, b) =>
      assert(a == b, s"$a vs $b") }
  }

  test("hamming top-k telemetry: generous budget has margin, exhausted budget saturates") {
    val sps = spark; import sps.implicits._
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 1.7 + d * 0.61) + 0.05))
    }.toDF("vec_id", "vec")
    val queries = vecs.where($"vec_id" < 2).select($"vec_id".as("qid"), $"vec".as("qvec"))
    // (candidates, kept) run records of the call `run` makes
    def lastRuns(run: => Unit): (Telemetry.Run, Telemetry.Run) = {
      run
      (Telemetry.runs("graft_hamming_candidates").last,
        Telemetry.runs("graft_hamming_kept").last)
    }
    // candidates == corpus: the kept max hamming sits well inside the
    // admitted candidate range — budget had slack
    val (looseCand, looseKept) = lastRuns {
      Embeddings.hammingTopK(vecs, "vec", "vec_id", queries, "qvec", "qid",
        k = 3, candidates = 39).count(): Unit
    }
    assert(looseCand.max.value > looseKept.max.value)
    assert(!Embeddings.hammingSaturated(looseCand, looseKept))
    assert(looseKept.min.value <= 1000000L) // a real cosine, not zero-state
    // candidates == k: every admitted candidate is kept, so the top-k
    // touches the prescreen boundary — the raise-candidates signal
    val (tightCand, tightKept) = lastRuns {
      Embeddings.hammingTopK(vecs, "vec", "vec_id", queries, "qvec", "qid",
        k = 3, candidates = 3).count(): Unit
    }
    assert(Embeddings.hammingSaturated(tightCand, tightKept))
  }
}
