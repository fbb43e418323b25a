package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.cep.spark.{CepMetrics, Instrumented, SparkT}
import graft.io.Transcripts

class OpsSpec extends AnyFunSuite {
  import SparkT.spark

  private val sf = "/root/testdata/sf0.001"

  test("multimodal: batched stub decode preserves every row with stable features") {
    val media = Multimodal.mediaTable(spark, sf)
    val n = media.count()
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == n)
    assert(feats.forall(_.features.length == Multimodal.FEATURE_DIM))
    assert(feats.forall(_.sha.length == 32))
    // determinism: same input -> identical features
    val again = Multimodal.extractFeatures(media).collect()
    assert(feats.sortBy(_.media_id).map(_.features.toSeq).toSeq ==
      again.sortBy(_.media_id).map(_.features.toSeq).toSeq)
  }

  test("multimodal: Catalyst metadata projection is bit-equal to the stub decoder") {
    // mediaSummary/sampleFrames compute sha/frames/n_bytes as pure Catalyst metadata;
    // this pins them to decodeStub's values so swapping the decode out of the metadata
    // queries (a round-6 optimization) can never drift from the decoder's contract
    val media = Multimodal.mediaTable(spark, sf)
    val stub = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> ((f.kind, f.n_bytes, f.sha, f.frames))).toMap
    val summary = Multimodal.mediaSummary(media).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getString(3), r.getInt(4)))).toMap
    assert(summary == stub)
  }

  test("multimodal: frame sampling emits stride-spaced frames for video rows") {
    val media = Multimodal.mediaTable(spark, sf)
    val frames = Multimodal.sampleFrames(media, stride = 4).collect()
    assert(frames.nonEmpty)
    val byMedia = frames.groupBy(_.getLong(0))
    byMedia.values.foreach { fs =>
      val nos = fs.map(_.getLong(1)).sorted
      assert(nos.head == 0 && nos.sliding(2).forall { case Array(a, b) => b - a == 4; case _ => true })
      // fingerprint must be md5-derived (oracle-replicable), suffixed with the frame no
      fs.foreach(r => assert(r.getString(2).matches("[0-9a-f]{32}:" + r.getLong(1))))
    }
  }

  test("similarity: LSH top1 is a subset-quality approximation of brute top1") {
    val brute = Similarity.bruteTop1(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Similarity.lshTop1(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lsh.nonEmpty)
    val agree = lsh.count { case (v, nn) => brute.get(v).contains(nn) }
    // random-hyperplane buckets on random embeddings: expect meaningful (not perfect) recall
    assert(agree.toDouble / lsh.size > 0.2, s"agreement ${agree}/${lsh.size}")
  }

  test("similarity: LSH recall >= 0.9 vs brute force on clustered embeddings") {
    // Clustered fixture (the realistic ANN regime): 20 tight clusters of 25 vectors. The
    // true NN sits in the same cluster at cosine ~0.99+, which multi-table sign-sketch
    // LSH must recover — this is the quality bar, not the uniform-random smoke above.
    import spark.implicits._
    val rnd = new scala.util.Random(123)
    val dim = 64
    val centers = Array.fill(20)(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until 500).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.zipWithIndex.map { case (x, _) => x + 0.05 * rnd.nextGaussian() }.toSeq)
    }
    val df = vecs.toDF("vec_id", "v")
    val brute = Similarity.bruteTop1(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Similarity.lshTop1(df, nTables = 4, planesPerTable = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recalled = brute.count { case (v, nn) => lsh.get(v).contains(nn) }
    val recall = recalled.toDouble / brute.size
    assert(recall >= 0.9, s"clustered recall $recall ($recalled/${brute.size})")
  }

  test("similarity: IVF recall >= 0.9 vs brute force on clustered embeddings") {
    // Same clustered fixture as the LSH bar: the true NN sits in the query's own tight
    // cluster, so a 2-iteration k-medians quantizer probing 2 of 8 cells must recover it
    // (k < #clusters forces several true clusters per cell — recall survives because the
    // NN's cell is then almost always the query's own best cell).
    import spark.implicits._
    val rnd = new scala.util.Random(123)
    val dim = 64
    val centers = Array.fill(20)(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until 500).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.zipWithIndex.map { case (x, _) => x + 0.05 * rnd.nextGaussian() }.toSeq)
    }
    val df = vecs.toDF("vec_id", "v")
    val brute = Similarity.bruteTop1(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = Similarity.ivfTop1(df, k = 8, iters = 2, nProbe = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recalled = brute.count { case (v, nn) => ivf.get(v).contains(nn) }
    val recall = recalled.toDouble / brute.size
    assert(recall >= 0.9, s"clustered IVF recall $recall ($recalled/${brute.size})")
  }

  test("dedup: duplicate clusters propagate min-id labels across transitive chains") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3: labels need multiple propagation rounds), plus two
    // separate components — exercises the convergence loop, not just one-hop minima
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("a_id", "b_id")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("dedup: cluster labels survive a long-chain component across checkpoint truncation") {
    import spark.implicits._
    // a 12-node path has diameter 11: min-label propagation needs 11 rounds, crossing
    // several checkpointEvery=3 lineage truncations (localCheckpoint here — no checkpoint
    // dir set) — the regression this guards is a checkpointed round frame losing or
    // re-deriving labels incorrectly once the pre-checkpoint lineage is gone
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val got = Dedup.duplicateClusters(chain, maxRounds = 20, checkpointEvery = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 12L).map(_ -> 1L).toMap)
  }

  test("dedup: duplicate and reversed duplicate edges leave cluster labels unchanged") {
    import spark.implicits._
    // the round aggregate relies on every id contributing exactly ONE self row (max(old)
    // recovers the previous label from it); duplicated and direction-flipped pair rows
    // must only add neighbor contributions, never a second self row or a wrong min
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L), (10L, 11L))
      .toDF("a_id", "b_id")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dedup: duplicate clusters of an empty pair set are empty") {
    import spark.implicits._
    val pairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.duplicateClusters(pairs).collect().isEmpty)
  }

  test("dedup: minhash LSH pairs are exactly the >=0.4-Jaccard pairs it verifies") {
    val viaLsh = Dedup.minhashLshPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH output is verified-exact, so it must be a subset of the exact pair set
    assert(viaLsh.subsetOf(exact), s"false positives: ${viaLsh -- exact}")
  }

  test("instrumented evaluation: per-partition lineage accounts for all events and matches") {
    val patterns = Seq(SparkT.flagship)
    val evs = Transcripts.toEv(Transcripts.toDs(spark, Transcripts.generate(nConvs = 10)))
    val metrics = new CepMetrics(spark)
    val ms = Instrumented.evaluate(evs, patterns, metrics).collect()
    val plain = graft.cep.spark.BatchEvaluator.evaluate(evs, patterns).collect()
    assert(SparkT.canon(ms.toSeq) == SparkT.canon(plain.toSeq))
    assert(metrics.matchesOut.value == ms.length)
    val lineage = metrics.summary
    assert(lineage.values.map(_._3).sum == ms.length, s"lineage: $lineage")
    assert(lineage.values.map(_._1).sum == 10) // all conversations accounted for
  }
}
