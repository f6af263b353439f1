package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Training-data curation operators: dedup sketches, similarity search,
  * text analysis, multimodal plumbing. */
class DatasetOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("minhash-lsh: identical docs pair with est_jaccard 1.0; disjoint docs don't pair") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "one two three four five six seven eight nine")
    val p = DedupOps.MinHashLSH(16, 4, 3, 0.5).pairs(d).collect()
    assert(p.length == 1)
    assert(p.head.getLong(0) == 1L && p.head.getLong(1) == 2L)
    assert(p.head.getDouble(2) == 1.0)
  }

  test("minhash-lsh: near-duplicate (one word changed) still pairs above threshold") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val edited = base.replace("w15", "xx")
    val p = DedupOps.MinHashLSH(16, 4, 3, 0.3).pairs(docs(1L -> base, 2L -> edited))
      .collect()
    assert(p.length == 1 && p.head.getDouble(2) >= 0.3)
  }

  test("minhash-lsh: maxBucketSize caps hot buckets") {
    // 5 identical docs -> every band bucket has 5 members; cap at 4 kills all
    val d = docs((1L to 5L).map(i => i -> "a b c d e f g h i j"): _*)
    val capped = DedupOps.MinHashLSH(16, 4, 3, 0.5, maxBucketSize = 4).pairs(d)
    assert(capped.count() == 0)
    val uncapped = DedupOps.MinHashLSH(16, 4, 3, 0.5).pairs(d)
    assert(uncapped.count() == 10) // C(5,2)
  }

  test("simhash: identical text -> distance 0; heavy edit -> larger distance than light edit") {
    val sh = DedupOps.SimHash(32)
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val light = base.replace("tok7", "zz")
    val heavy = (1 to 40).map(i => s"other$i").mkString(" ")
    val d = sh(docs(1L -> base, 2L -> base, 3L -> light, 4L -> heavy))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(d(a) ^ d(b))
    assert(dist(1, 2) == 0)
    assert(dist(1, 3) < dist(1, 4))
  }

  test("simhash pairs: slice-join finds ALL pairs within maxDist (vs brute force)") {
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 50).map(i => s"v$i")
    val rows = (1L to 40L).map { i =>
      i -> Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val d = docs(rows: _*)
    val sh = DedupOps.SimHash(32)
    val viaJoin = sh.pairs(d, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sk = sh(d).collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, ha) <- sk; (b, hb) <- sk if a < b
      dist = java.lang.Long.bitCount(ha ^ hb) if dist <= 3
    } yield (a, b, dist)).toSet
    assert(viaJoin == brute)
  }

  test("ngram jaccard: exact value on known overlap") {
    // shingles of "a b c d": {abc, bcd}; of "a b c e": {abc, bce}
    // intersection 1, union 3 -> 1/3
    val p = DedupOps.NgramJaccard(3, 0.1)
      .pairs(docs(1L -> "a b c d", 2L -> "a b c e")).collect()
    assert(p.length == 1)
    assert(math.abs(p.head.getDouble(2) - 0.3333) < 1e-9)
  }

  test("embed near-dup: finds identical vectors at cos 1.0; excludes orthogonal") {
    val e = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(1f, 0f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val p = SimilarityOps.EmbedNearDup(0.9).pairs(e).collect()
    assert(p.length == 1 && p.head.getLong(0) == 1L && p.head.getLong(1) == 2L)
    assert(p.head.getDouble(2) == 1.0)
  }

  test("embed near-dup LSH tier: identical vectors share a bucket and pair up") {
    val lsh = SimilarityOps.SignLsh(planes = 8, dims = 4)
    val e = Seq(
      (1L, Seq(0.5f, -0.25f, 1f, 0.125f)),
      (2L, Seq(0.5f, -0.25f, 1f, 0.125f)),
      (3L, Seq(-0.5f, 0.25f, -1f, -0.125f))).toDF("vec_id", "embedding")
    val p = SimilarityOps.EmbedNearDup(0.9, exact = false, lsh = lsh)
      .pairs(e).collect()
    assert(p.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("sign-lsh ann: identical corpus vector ranks first in the query bucket") {
    val lsh = SimilarityOps.SignLsh(planes = 4, dims = 4)
    val corpus = Seq(
      (10L, Seq(1f, 2f, 3f, 4f)),
      (11L, Seq(1f, 2f, 3f, 4.01f)),
      (12L, Seq(-1f, -2f, -3f, -4f))).toDF("vec_id", "embedding")
    val query = Seq((0L, Seq(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
    val top = lsh.topK(corpus, query, 3).collect()
    assert(top.head.getInt(0) == 1 && top.head.getLong(1) == 10L)
    // opposite-sign vector is in the complementary bucket -> not a candidate
    assert(!top.map(_.getLong(1)).contains(12L))
  }

  test("ivf ann: identical vector ranks first; vectors outside probed cells excluded") {
    val ivf = SimilarityOps.IvfIndex(nlist = 2, nprobe = 1)
    // centroids = vec 0 (x-axis-ish) and vec 1 (y-axis-ish)
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f)),
      (10L, Seq(0.9f, 0.1f, 0f, 0f)), // cell of centroid 0
      (11L, Seq(0.1f, 0.9f, 0f, 0f))  // cell of centroid 1
    ).toDF("vec_id", "embedding")
    val query = Seq((99L, Seq(1f, 0.05f, 0f, 0f))).toDF("vec_id", "embedding")
    val top = ivf.topK(corpus, query, 4).collect()
      .map(r => r.getInt(0) -> r.getLong(1))
    // probe only cell 0: vec 0 and 10 are candidates, 1 and 11 are not
    assert(top.head._2 == 0L)
    val ids = top.map(_._2).toSet
    assert(ids.contains(10L) && !ids.contains(11L) && !ids.contains(1L))
  }

  test("ivf at scale shape: nlist=1024 assigns via broadcast centroid DATA, O(1) plan") {
    val dims = 8
    // vec 1199 is all zeros: no cosine against any centroid
    val vecs = spark.range(0, 1200).toDF("vec_id")
      .withColumn("embedding", transform(sequence(lit(0), lit(dims - 1)),
        d => when(col("vec_id") === 1199, lit(0f))
          .otherwise(sin(col("vec_id") * 0.7 + d).cast("float"))))
      .cache()
    val ivf = SimilarityOps.IvfIndex(nlist = 1024, nprobe = 8)
    val cents = ivf.centroids(vecs)
    assert(cents.length == 1024)
    val assigned = ivf.assign(vecs, cents)
    val physical = assigned.queryExecution.executedPlan.toString
    assert(physical.contains("Broadcast"), physical.take(2000))
    // the scale fix: assignment must NOT inline nlist centroid literals
    // into the plan — plan text stays small at any nlist
    val logical = assigned.queryExecution.optimizedPlan.toString
    assert(logical.length < 50000, s"plan grew with nlist: ${logical.length}")
    // assignment agrees with driver-side math on sampled vectors
    // (and on the zero vector)
    val got = assigned.where(col("vec_id").isin(3L, 777L, 1111L, 1199L))
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val qvs = vecs.where(col("vec_id").isin(3L, 777L, 1111L, 1199L))
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    for ((id, qv) <- qvs)
      assert(got(id) == ivf.probeCells(qv, cents).head, s"vec $id")
    // every cosine of the zero vector is undefined: the cell-id tie-break
    assert(got(1199L) == cents.length - 1)
    vecs.unpersist()
  }

  test("ivf assign is row-preserving: duplicate and null ids all survive") {
    val vecs = Seq(
      (java.lang.Long.valueOf(1L), Seq(1f, 0f)),
      (java.lang.Long.valueOf(1L), Seq(0f, 1f)), // duplicate id
      (null.asInstanceOf[java.lang.Long], Seq(1f, 1f)),
      (null.asInstanceOf[java.lang.Long], Seq(-1f, 1f)) // two null ids
    ).toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val out = SimilarityOps.IvfIndex(nlist = 2, nprobe = 1)
      .assign(vecs, cents)
    assert(out.count() == 4, "assign must not collapse rows by id")
    // and each row still gets ITS OWN best cell, not a shared one
    val cells = out.select("embedding", "cell").collect()
      .map(r => r.getSeq[Float](0) -> r.getInt(1)).toMap
    assert(cells(Seq(1f, 0f)) == 0 && cells(Seq(0f, 1f)) == 1)
  }

  test("ivf k-means refinement: trained centroids move to cluster means") {
    // two tight clusters; sampled seeds (ids 0,1) both sit in cluster A,
    // Lloyd refinement must pull one centroid toward cluster B's mean
    val a = (0L until 6L).map(i => (i, Seq(10f + i * 0.01f, 0f, 0f, 0f)))
    val b = (6L until 12L).map(i => (i, Seq(0f, 10f + i * 0.01f, 0f, 0f)))
    val vecs = (a ++ b).toDF("vec_id", "embedding")
    val ivf = SimilarityOps.IvfIndex(nlist = 2, nprobe = 1)
    val trained = ivf.trainCentroids(vecs, iters = 3)
    val assigned = SimilarityOps.IvfIndex(nlist = 2, nprobe = 1)
      .assign(vecs, trained)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // all of cluster A in one cell, all of cluster B in the other
    assert(a.map(x => assigned(x._1)).toSet.size == 1)
    assert(b.map(x => assigned(x._1)).toSet.size == 1)
    assert(assigned(0L) != assigned(11L))
  }

  test("token counts: whitespace vs bpe-ish tokens") {
    val d = docs(1L -> "hello, world! x2")
    val r = TextOps.tokenCounts(d).collect().head
    assert(r.getInt(1) == 3) // ws tokens: hello, / world! / x2
    // bpe: hello , world ! x 2
    assert(r.getInt(2) == 6)
    assert(r.getInt(3) == 16)
  }

  test("quality features: ratios on a known string") {
    val d = docs(1L -> "aa bb aa")
    val r = TextOps.qualityFeatures(d).collect().head
    assert(r.getInt(1) == 8 && r.getInt(2) == 3)
    assert(math.abs(r.getDouble(4) - 0.6667) < 1e-9) // 2 distinct / 3
    assert(r.getDouble(5) == 0.0) // no punct
  }

  test("lang id: marker argmax with declared-order tie-break and unk fallback") {
    val d = docs(
      1L -> "the cat of the house is big",
      2L -> "el gato de la casa que es",
      3L -> "der hund und die katze ist",
      4L -> "qqq www eee")
    val r = d.select(col("doc_id"), TextOps.langId(col("text")).as("g"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "unk"))
  }

  test("repetition stats: entropy and top-bigram fraction on known docs") {
    val d = docs(
      1L -> "a a a a",      // all-same: entropy 0, top bigram "a a" = 3/3
      2L -> "a b c d",      // uniform: entropy log2(4)=2, bigrams all unique
      3L -> "solo")         // one token: entropy 0, no bigrams
    val r = TextOps.repetitionStats(d).collect()
      .map(x => x.getLong(0) -> (x.getDouble(1),
        if (x.isNullAt(2)) None else Some(x.getDouble(2)))).toMap
    assert(r(1L) == ((0.0, Some(1.0))))
    assert(r(2L) == ((2.0, Some(0.3333))))
    assert(r(3L)._1 == 0.0 && r(3L)._2.isEmpty)
  }

  test("bottom-k fingerprint: stable under whitespace noise, differs across docs") {
    val fp = TextOps.BottomKFingerprint(8, 8)
    val a = fp(docs(1L -> "the quick brown fox jumps over dogs",
      2L -> "the  quick   brown fox jumps over dogs",
      3L -> "completely different text payload here")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a(1L) == a(2L))
    assert(a(1L) != a(3L))
    assert(a(1L).length == 8 && a(1L) == a(1L).sorted)
  }

  test("multimodal decode: deterministic fake decode, null passthrough, batching") {
    val d = Seq(
      (1L, "payload-one"), (2L, "payload-two"), (3L, null)
    ).toDF("doc_id", "s")
      .select(col("doc_id"), col("s").cast("binary").as("payload"))
    val out = MultimodalOps.decode(d, "payload", batchSize = 2)
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    val r1 = out(0)
    // matches md5("payload-one") derivation
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest("payload-one".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r1.getInt(2) == (java.lang.Long.parseLong(h.substring(0, 4), 16) % 512 + 16).toInt)
    assert(r1.getInt(4) == 3)
    assert(r1.getSeq[Double](5).length == 3)
    // null payload -> null decode columns, row preserved
    assert(out(2).isNullAt(2) && out(2).isNullAt(5))
  }

  test("multimodal decode is total: a payload the decoder throws on keeps its row with null decode columns") {
    val d = Seq((1L, "payload-one"), (2L, "bad"), (3L, "payload-three"))
      .toDF("doc_id", "s")
      .select(col("doc_id"), col("s").cast("binary").as("payload"))
    val out = MultimodalOps.decode(d.coalesce(1), "payload",
      decoder = ThrowsOnBad, batchSize = 3).orderBy("doc_id").collect()
    val expected = MultimodalOps.decode(d, "payload")
      .orderBy("doc_id").collect()
    assert(out.length == 3)
    assert(out(0) == expected(0) && out(2) == expected(2))
    assert((2 to 5).forall(out(1).isNullAt))
  }

  test("frame sample: every stride-th frame, n>=1 guard") {
    val d = Seq((1L, 7), (2L, 1)).toDF("doc_id", "n_frames")
    val out = MultimodalOps.sampleFrames(d, "n_frames", 3)
      .select("doc_id", "frame_idx").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(out(1L) == Seq(0, 3, 6))
    assert(out(2L) == Seq(0))
  }

  test("shingles are total: short/empty/null docs yield no shingles, never throw") {
    val d = Seq((1L, "only two"), (2L, ""), (3L, null: String),
      (4L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    // every sketch op that shingles must survive sub-n-word docs
    val mh = DedupOps.MinHashLSH(16, 4, 3, 0.0).pairs(d)
    assert(mh.count() == 0) // no pairable docs
    val nj = DedupOps.NgramJaccard(3, 0.0).pairs(d)
    assert(nj.count() == 0)
    // direct: the shingle column itself is empty, not an error
    val sh = d.select(DedupOps.shingles(DedupOps.words(col("text")), 3).as("s"))
      .collect().map(_.getSeq[String](0).length)
    assert(sh.toSeq == Seq(0, 0, 0, 6))
  }

  test("ngram jaccard: maxShingleFreq caps hot shingles out of the candidate join") {
    // one shingle ("x y z") shared by ALL docs, unique tails elsewhere
    val d = docs((1L to 6L).map(i => i -> s"x y z t$i u$i v$i w$i"): _*)
    val uncapped = DedupOps.NgramJaccard(3, 0.01).pairs(d)
    assert(uncapped.count() == 15) // C(6,2): every pair shares "x y z"
    val capped = DedupOps.NgramJaccard(3, 0.01, maxShingleFreq = 5).pairs(d)
    assert(capped.count() == 0) // the only shared shingle was capped
  }

  test("simhash pairs: 62-bit sketches bucket with integer bit math (no double loss)") {
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 40).map(i => s"v$i")
    val rows = (1L to 25L).map { i =>
      i -> Seq.fill(15)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val d = docs(rows: _*)
    val sh = DedupOps.SimHash(62)
    val viaJoin = sh.pairs(d, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sk = sh(d).collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, ha) <- sk; (b, hb) <- sk if a < b
      dist = java.lang.Long.bitCount(ha ^ hb) if dist <= 3
    } yield (a, b, dist)).toSet
    assert(viaJoin == brute)
  }

  test("embed near-dup DEFAULT tier is LSH-bucketed, not the O(n^2) nested loop") {
    val e = Seq((1L, Seq.fill(64)(0.5f)), (2L, Seq.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    val plan = SimilarityOps.EmbedNearDup(0.9).pairs(e)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("resolveDuplicates: pairs -> connected components -> min-id survivors") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), // chain 1-2-3
      (5L, 6L),           // pair
      (8L, 9L), (7L, 9L)  // 7-8-9 via 9
    ).toDF("doc_a", "doc_b")
    val r = DedupOps.resolveDuplicates(pairs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    assert(r(1L) == ((1L, true)) && r(2L) == ((1L, false)) && r(3L) == ((1L, false)))
    assert(r(5L) == ((5L, true)) && r(6L) == ((5L, false)))
    assert(r(7L) == ((7L, true)) && r(8L) == ((7L, false)) && r(9L) == ((7L, false)))
  }

  test("resolveDuplicatesDetailed: chain-shaped components, converged flag, checkpoint truncation") {
    // a long chain is the label-propagation worst case; with the
    // pointer-jump step the reachable distance doubles per round, so a
    // 200-node chain (diameter 199) needs ~log2 rounds, not 199
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // too few iterations → NOT converged, and the chain splits
    val (partial, convNo) =
      DedupOps.resolveDuplicatesDetailed(chain, maxIter = 2)
    assert(!convNo)
    // labels still moving: the chain is split across several comp values
    assert(partial.select("comp").distinct().count() > 1)
    // O(log d) iterations → converged, one component, survivor = min id
    val (full, convYes) =
      DedupOps.resolveDuplicatesDetailed(chain, maxIter = 12)
    assert(convYes)
    val rows = full.collect().map(x =>
      x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    assert(rows.values.map(_._1).toSet == Set(0L))
    assert(rows.filter(_._2._2).keySet == Set(0L))
  }

  test("incremental minhash: new batch pairs against a stored signature table only") {
    val corpus = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "one two three four five six seven eight nine")
    val mh = DedupOps.MinHashLSH(16, 4, 3, 0.5)
    val sig = mh.signatures(corpus, "doc_id", "text")
    val fresh = docs(
      10L -> "alpha beta gamma delta epsilon zeta eta theta", // dup of 1
      11L -> "totally novel content with no duplicate at all")
    val inc = mh.pairsAgainst(fresh, sig).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(inc.toSeq == Seq((10L, 1L, 1.0)))
    // equivalent to full-corpus pairs restricted to new-old edges
    val full = mh.pairs(corpus.unionByName(fresh)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == Set((1L, 10L)))
  }

  test("ivf index: partitioned write + query-side partition pruning, same top-k") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val io = graft.sink.TableIO(dir)
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)),
      (10L, Seq(0.9f, 0.1f, 0f, 0f)), (11L, Seq(0.1f, 0.9f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val query = Seq((99L, Seq(1f, 0.05f, 0f, 0f))).toDF("vec_id", "embedding")
    val ivf = SimilarityOps.IvfIndex(nlist = 2, nprobe = 1)
    val cents = ivf.writeIndex(corpus, io, "ivf_index")
    val viaIndex = ivf.topKIndexed(spark, io, "ivf_index", cents, query, 4)
    // the read is path-scoped: every input file lies under the probed
    // cell=<c> dir (nprobe = 1 of 2 cells)
    val qv = Array(1f, 0.05f, 0f, 0f).map(_.toDouble)
    val probed = ivf.probeCells(qv, cents).toSet
    val files = viaIndex.inputFiles
    assert(files.nonEmpty && files.forall(f => probed.exists(c =>
      f.contains(s"/cell=$c/"))), (probed, files.toSeq))
    val direct = ivf.topK(corpus, query, 4).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    val indexed = viaIndex.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(indexed == direct)
    // element-type agnostic (array<double> corpus) + empty query
    val dCorpus = corpus.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val dQuery = query.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val cents2 = ivf.writeIndex(dCorpus, io, "ivf_index_d")
    val viaD = ivf.topKIndexed(spark, io, "ivf_index_d", cents2, dQuery, 4)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(viaD == direct)
    assert(ivf.topKIndexed(spark, io, "ivf_index_d", cents2,
      dQuery.limit(0), 4).count() == 0)
  }

  test("sign-lsh index: partitioned write + multi-probe partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh").toString
    val io = graft.sink.TableIO(dir)
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)),
      (10L, Seq(0.9f, 0.1f, 0f, 0f)), (11L, Seq(0.1f, 0.9f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val query = Seq((99L, Seq(1f, 0.05f, 0f, 0f))).toDF("vec_id", "embedding")
    val lsh = SimilarityOps.SignLsh(planes = 4, dims = 4)
    lsh.writeIndex(corpus, io, "lsh_index")
    val via = lsh.topKIndexed(spark, io, "lsh_index", query, 4)
    // the read is path-scoped: every input file lies under a probed
    // bucket=<b> dir
    val qv = Array(1f, 0.05f, 0f, 0f).map(_.toDouble)
    val probed = lsh.probeBuckets(qv, 4).toSet
    val files = via.inputFiles
    assert(files.nonEmpty && files.forall(f => probed.exists(b =>
      f.contains(s"/bucket=$b/"))), (probed, files.toSeq))
    // multiProbe=0 = exact bucket only → same rows as the one-shot topK
    val exact = lsh.topKIndexed(spark, io, "lsh_index", query, 4,
      multiProbe = 0).collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val direct = lsh.topK(corpus, query, 4).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(exact == direct)
    // full multi-probe widens recall: candidates ⊇ exact-bucket hits
    assert(via.count() >= exact.size)
    assert(lsh.topKIndexed(spark, io, "lsh_index", query.limit(0), 4)
      .count() == 0)
  }

  test("sign-bit twins: the Catalyst bucket and sketch equal the " +
    "driver-side probe lists' own buckets, degenerate vectors included") {
    val lsh = SimilarityOps.SignLsh(planes = 8, dims = 64)
    val banded = SimilarityOps.BandedSignLsh(tables = 16, planes = 8, dims = 64)
    val rnd = new scala.util.Random(11)
    val vecs: Seq[Array[Double]] =
      Seq(Array.fill(64)(0.0), Array.fill(64)(-0.0), Array.empty[Double],
        Array.fill(64)(-1.0), Array.fill(64)(-1e300),
        Array.tabulate(64)(d => if (d % 2 == 0) 1e300 else -1e300),
        Array.fill(64)(Float.MaxValue.toDouble)) ++
      // ragged: elements past either end count as 0 on both sides
      Seq(1, 7, 63, 65, 128).map(n => Array.fill(n)(rnd.nextGaussian())) ++
      (1 to 300).map(_ => Array.fill(64)(
        rnd.nextGaussian() * math.pow(10, rnd.nextInt(13) - 6)))
    val got = vecs.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toDF("i", "v")
      .select(col("i"), lsh.bucket(col("v")), banded.sketch(col("v")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2)))
    assert(got.length == vecs.size)
    got.foreach { case (i, bucket, sketch) =>
      assert(bucket == lsh.probeBuckets(vecs(i), 0).head, s"vector $i")
      val probes = banded.probeBuckets(vecs(i))
      (0 until banded.tables).foreach(t =>
        assert(sketch(t) == probes(t)(0), s"vector $i, table $t"))
    }
  }

  test("fast hash tier: same dup/non-dup pair decisions as the portable md5 tier") {
    // exact dups + clearly-disjoint docs: both hash families must agree
    // on the PAIR SET (estimates may differ on borderline docs, so the
    // corpus keeps similarity far from the threshold)
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "one two three four five six seven eight nine",
      4L -> "one two three four five six seven eight nine",
      5L -> "completely unrelated corpus text goes right here")
    def pairSet(portable: Boolean) =
      DedupOps.MinHashLSH(16, 4, 3, 0.9, portable = portable).pairs(d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(portable = true) == Set((1L, 2L), (3L, 4L)))
    assert(pairSet(portable = false) == pairSet(portable = true))
    def simPairs(portable: Boolean) =
      DedupOps.SimHash(32, portable = portable).pairs(d, maxDist = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(simPairs(portable = true) == Set((1L, 2L), (3L, 4L)))
    assert(simPairs(portable = false) == simPairs(portable = true))
  }

  test("decontaminate: n-gram overlap with a benchmark set flags docs, " +
    "counts distinct shared grams, survivors are the anti set") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "quick brown fox jumps over the lazy dog and more words",
      3L -> "completely unrelated content about spark catalyst planning",
      4L -> "the quick brown fox jumps over the lazy dog tonight again")
    val bench = Seq((100L, "Quick Brown  FOX jumps over the lazy dog"))
      .toDF("bench_id", "text") // case/whitespace-normalized like docs
    val deco = DedupOps.Decontaminate(n = 8)
    val pairs = deco.pairs(d, bench).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // bench has one 8-gram ("quick…dog"); docs 1,2,4 contain it once
    assert(pairs.toSeq == Seq((1L, 100L, 1L), (2L, 100L, 1L), (4L, 100L, 1L)))
    val surv = deco.survivors(d, bench).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(surv == Set(3L))
    // minOverlap gate: requiring 2 shared grams clears everything here
    assert(DedupOps.Decontaminate(n = 8, minOverlap = 2)
      .pairs(d, bench).count() == 0)
    // benchmark side is broadcast: the corpus is never shuffled for it
    val plan = deco.pairs(d, bench).queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast:\n$plan")
  }

  test("paragraph dedup: first occurrence survives corpus-wide, docs " +
    "rebuild in order, short paragraphs never dedup") {
    val d = docs(
      1L -> "intro one\n\nshared footer\n\nbody a",
      2L -> "intro two\n\nshared footer\n\nbody b\n\nx",
      3L -> "shared footer\n\nbody c\n\nx")
    val out = DedupOps.ParagraphDedup(minChars = 2)(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // doc 1 holds the first "shared footer" (smallest (doc,pos));
    // "x" (1 char < minChars 2) survives in BOTH docs 2 and 3
    assert(out(0) == ((1L, "intro one\n\nshared footer\n\nbody a", 3L, 0L)))
    assert(out(1) == ((2L, "intro two\n\nbody b\n\nx", 3L, 1L)))
    assert(out(2) == ((3L, "body c\n\nx", 2L, 1L)))
    // a fully-duplicate doc stays present with empty text
    val dup = docs(1L -> "only para", 2L -> "only para")
    val o2 = DedupOps.ParagraphDedup()(dup).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(o2.toSeq == Seq((1L, "only para"), (2L, "")))
    // duplicate WITHIN one doc also collapses to the first position
    val o3 = DedupOps.ParagraphDedup()(docs(7L -> "a b\n\nc d\n\na b"))
      .collect().head
    assert(o3.getString(1) == "a b\n\nc d" && o3.getLong(3) == 1L)
    // a NULL text reads as empty — the doc stays present, not dropped
    val withNull = Seq((1L, "real para"), (2L, null))
      .toDF("doc_id", "text")
    val o4 = DedupOps.ParagraphDedup()(withNull).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(o4.toSeq == Seq((1L, "real para"), (2L, "")))
    // non-text columns ride through and a custom textCol keeps its name
    val rich = Seq((1L, "en", "p\n\nq"), (2L, "fr", "p\n\nr"))
      .toDF("doc_id", "lang", "body")
    val o5 = DedupOps.ParagraphDedup(textCol = "body")(rich)
      .select("doc_id", "lang", "body").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(o5.toSeq == Seq((1L, "en", "p\n\nq"), (2L, "fr", "r")))
  }

  test("topNgrams: document frequency (distinct per doc), " +
    "deterministic count-then-gram ordering, k cap") {
    val d = docs(
      1L -> "a b c a b c", // "a b c" twice in doc 1 → still df 1
      2L -> "a b c x y z",
      3L -> "x y z q r s")
    val top = TextOps.topNgrams(d, n = 3, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(top.length == 3)
    assert(top(0)._2 == 2 && top(1)._2 == 2) // "a b c", "x y z"
    assert(top.take(2).map(_._1).sorted.toSeq == Seq("a b c", "x y z"))
    // ties break by gram ascending
    assert(top(0)._1 == "a b c" && top(1)._1 == "x y z")
    // the plan is a TakeOrderedAndProject, not a global sort
    val plan = TextOps.topNgrams(d, 3, 3).queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("annRecall: one row per query; exhaustive probe configs reach " +
    "recall 1.0; stingy probing loses recall") {
    val vecs = (0L until 30L).map(i => (i, Seq(
      math.sin(i * 0.7).toFloat, math.cos(i * 1.3).toFloat,
      math.sin(i * 2.1 + 1).toFloat, math.cos(i * 0.4 + 2).toFloat)))
      .toDF("vec_id", "embedding")
    // nlist=1 -> IVF probes the single cell = whole corpus;
    // 1 table x 1 plane -> 2 LSH buckets, Hamming-1 probing covers both
    val full = SimilarityOps.annRecall(vecs, nQueries = 3, k = 2,
      SimilarityOps.IvfIndex(nlist = 1, nprobe = 1),
      SimilarityOps.BandedSignLsh(tables = 1, planes = 1, dims = 4)).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    assert(full.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(full.forall { case (_, ri, rl) => ri == 1.0 && rl == 1.0 })
    // 8 cells / 1 probe: recall can only drop, never exceed 1.0, and
    // the harness still reports every query
    val tight = SimilarityOps.annRecall(vecs, nQueries = 3, k = 2,
      SimilarityOps.IvfIndex(nlist = 8, nprobe = 1),
      SimilarityOps.BandedSignLsh(tables = 1, planes = 1, dims = 4)).collect()
    assert(tight.length == 3 &&
      tight.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
    // more tables can only ADD candidates: banded recall >= the
    // single-selective-table recall for every query
    val one = SimilarityOps.annRecall(vecs, nQueries = 3, k = 2,
      SimilarityOps.IvfIndex(nlist = 1, nprobe = 1),
      SimilarityOps.BandedSignLsh(tables = 1, planes = 4, dims = 4))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val many = SimilarityOps.annRecall(vecs, nQueries = 3, k = 2,
      SimilarityOps.IvfIndex(nlist = 1, nprobe = 1),
      SimilarityOps.BandedSignLsh(tables = 8, planes = 4, dims = 4))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(one.keySet == many.keySet &&
      one.forall { case (q, r) => many(q) >= r })
  }

  test("neardupRecall: bucketed pair tiers are exact-verified subsets, " +
    "counts and ratios line up, banded >= single-table on the fixture") {
    val vecs = (0L until 30L).map(i => (i, Seq(
      math.sin(i * 0.7).toFloat, math.cos(i * 1.3).toFloat,
      math.sin(i * 2.1 + 1).toFloat, math.cos(i * 0.4 + 2).toFloat)))
      .toDF("vec_id", "embedding")
    val exact = SimilarityOps.EmbedNearDup(0.5, exact = true).pairs(vecs)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // banded pairs exact-verify: every found pair is a true pair
    val banded = SimilarityOps.BandedSignLsh(tables = 8, planes = 4, dims = 4)
      .pairs(vecs, 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(exact))
    val rec = SimilarityOps.neardupRecall(vecs, threshold = 0.5,
      single = SimilarityOps.SignLsh(planes = 4, dims = 4),
      banded = SimilarityOps.BandedSignLsh(tables = 8, planes = 4, dims = 4))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rec.keySet == Set("lsh", "lsh_banded"))
    assert(rec("lsh")._2 == exact.size && rec("lsh_banded")._2 == exact.size)
    assert(rec("lsh_banded")._1 == banded.size)
    assert(rec.values.forall(v => v._3 >= 0.0 && v._3 <= 1.0))
    // deterministic fixture: 8 banded tables collide far more often
    // than the one 4-plane table (different salts, so not a strict
    // superset — the aggregate ordering is a property of the fixture)
    assert(rec("lsh_banded")._3 >= rec("lsh")._3)
  }

  test("banded sign-lsh: indexed path (partition pruning + id dedup) " +
    "matches the index-free filter path; identical vector ranks first") {
    val dir = java.nio.file.Files.createTempDirectory("graft-blsh").toString
    val io = graft.sink.TableIO(dir)
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)),
      (10L, Seq(0.9f, 0.1f, 0f, 0f)), (11L, Seq(0.1f, 0.9f, 0f, 0f)),
      (12L, Seq(-1f, -0.05f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val query = Seq((99L, Seq(1f, 0.05f, 0f, 0f))).toDF("vec_id", "embedding")
    val lsh = SimilarityOps.BandedSignLsh(tables = 3, planes = 4, dims = 4)
    lsh.writeIndex(corpus, io, "blsh")
    val via = lsh.topKIndexed(spark, io, "blsh", query, 5)
    // the read is path-scoped to probe partitions: every input file
    // lives under a t=<t>/bucket=<b> dir, and fewer dirs than the
    // full index are touched (probe-set pruning without a full listing)
    val files = via.inputFiles
    assert(files.nonEmpty &&
      files.forall(_.matches(".*/t=\\d+/bucket=-?\\d+/.*")), files.toSeq)
    val touched = files.map(_.replaceAll("/[^/]*$", "")).distinct.length
    val total = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "blsh"))
      .filter(p => p.getFileName.toString.startsWith("bucket="))
      .count()
    assert(touched <= total, s"$touched vs $total")
    val indexed = via.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val direct = lsh.topK(corpus, query, 5).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(indexed == direct) // same probe set, same candidates
    assert(indexed.head._2 == 0L) // identical vector first
    // empty query set stays total
    assert(lsh.topKIndexed(spark, io, "blsh", query.limit(0), 5).count() == 0)
  }

  test("semdedup: within-cell min-id survivor rule, cross-cell twins " +
    "both survive, dissimilar members stay") {
    // nlist=2 -> centroids are vecs 0 (x-axis) and 1 (y-axis)
    val vecs = Seq(
      0L -> Seq(1f, 0f, 0f, 0f),       // centroid A
      1L -> Seq(0f, 1f, 0f, 0f),       // centroid B
      2L -> Seq(0.99f, 0.1f, 0f, 0f),  // cell A, ~0 -> drops (0 < 2)
      3L -> Seq(0.1f, 0.99f, 0f, 0f),  // cell B, ~1 -> drops
      4L -> Seq(0.98f, -0.1f, 0f, 0f), // cell A, ~0 -> drops
      5L -> Seq(0.5f, 0.45f, 0.72f, 0f), // cell A but dissimilar -> stays
      7L -> Seq(0.72f, 0.69f, 0f, 0f), // cell A ┐ near-identical twins in
      8L -> Seq(0.69f, 0.72f, 0f, 0f)  // cell B ┘ DIFFERENT cells: both stay
    ).toDF("vec_id", "embedding")
    val sd = SimilarityOps.SemDeDup(nlist = 2, threshold = 0.9)
    val out = sd.survivors(vecs).select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 5L, 7L, 8L))
    assert(out.toMap == Map(0L -> 0, 1L -> 1, 5L -> 0, 7L -> 0, 8L -> 1))
    // pairs stay within a cell: the 7/8 twin pair is never formed
    val p = sd.pairs(vecs).select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p == Set((0L, 2L), (0L, 4L), (2L, 4L), (1L, 3L)))
    // centroid assignment is broadcast (corpus not shuffled to assign)
    val plan = sd.assigned(vecs).queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"no broadcast assign:\n$plan")
  }

  // two identical zero vectors (ids 3, 4) among non-zero ones: a zero
  // vector has no cosine, so every path gives it null — it never passes
  // a threshold and ranks last — and the non-zero results are unchanged
  private def withZeros = Seq(
    0L -> Seq(1f, 0f, 0f, 0f),
    1L -> Seq(0f, 1f, 0f, 0f),
    2L -> Seq(0.99f, 0.1f, 0f, 0f),
    3L -> Seq(0f, 0f, 0f, 0f),
    4L -> Seq(0f, 0f, 0f, 0f),
    5L -> Seq(0.1f, 0.99f, 0f, 0f)).toDF("vec_id", "embedding")
  private def nonZero = withZeros.where(!col("vec_id").isin(3L, 4L))
  private def pairSet(df: DataFrame) =
    df.select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("zero vectors: brute-force cosine top-k ranks them last; " +
    "a zero query ranks by id") {
    val q = Seq((99L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    def top(corpus: DataFrame, query: DataFrame, k: Int) =
      SimilarityOps.bruteForceTopK(corpus, query, k).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val all = top(withZeros, q, 6)
    assert(all.take(4) == top(nonZero, q, 4))
    assert(all.drop(4) == Seq(5 -> 3L, 6 -> 4L))
    val zq = Seq((99L, Seq(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    assert(top(withZeros, zq, 3) == Seq(1 -> 0L, 2 -> 1L, 3 -> 2L))
  }

  test("zero vectors: embed near-dup (exact and LSH) and banded " +
    "sign-LSH pairs never pair them, even with each other") {
    val lsh = SimilarityOps.SignLsh(planes = 4, dims = 4)
    val banded = SimilarityOps.BandedSignLsh(tables = 4, planes = 4, dims = 4)
    val tiers = Seq[DataFrame => DataFrame](
      SimilarityOps.EmbedNearDup(0.9, exact = true).pairs(_),
      SimilarityOps.EmbedNearDup(0.9, lsh = lsh).pairs(_),
      banded.pairs(_, 0.9))
    assert(pairSet(tiers.head(withZeros)) == Set((0L, 2L), (1L, 5L)))
    // the zero twins share every LSH bucket, so they are candidates
    tiers.foreach(t => assert(pairSet(t(withZeros)) == pairSet(t(nonZero))))
  }

  test("zero vectors: semdedup keeps them, pairs nothing with them") {
    // nlist=2 -> centroids 0 and 1; the zero twins share a cell
    val sd = SimilarityOps.SemDeDup(nlist = 2, threshold = 0.9)
    assert(pairSet(sd.pairs(withZeros)) == Set((0L, 2L), (1L, 5L)))
    assert(sd.survivors(withZeros).select("vec_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 3L, 4L))
  }

  test("zero vectors: annRecall reports a zero query and a zero centroid") {
    // queries are ids < 4, so id 3 is a zero query; nlist=4 makes it a
    // zero centroid too
    def recall(ivf: SimilarityOps.IvfIndex) =
      SimilarityOps.annRecall(withZeros, nQueries = 4, k = 2, ivf,
        SimilarityOps.BandedSignLsh(tables = 1, planes = 1, dims = 4)).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
    // exhaustive probes: every query, the zero one included, finds its
    // exact top-k (ranked by id when every cosine is null)
    val full = recall(SimilarityOps.IvfIndex(nlist = 1, nprobe = 1))
    assert(full.toSeq == (0L until 4L).map(q => (q, 1.0, 1.0)))
    val probed = recall(SimilarityOps.IvfIndex(nlist = 4, nprobe = 1))
    assert(probed.map(_._1).toSeq == (0L until 4L) &&
      probed.forall(r => r._2 >= 0.0 && r._2 <= 1.0))
  }

  test("dedup sketches run UDF-free (no ScalaUDF in the plan)") {
    val d = docs(1L -> "a b c d e f")
    val plans = Seq(
      DedupOps.MinHashLSH(16, 4, 3).pairs(d),
      DedupOps.SimHash(32)(d),
      TextOps.qualityFeatures(d))
    plans.foreach { p =>
      val s = p.queryExecution.optimizedPlan.toString
      assert(!s.contains("UDF"), s"plan contains UDF:\n$s")
    }
  }
}

/** A batch decoder that rejects the whole batch when any payload is
  * "bad" — the shape of a real media decoder failing on one input. */
private object ThrowsOnBad extends MultimodalOps.Decoder {
  def decodeBatch(payloads: Seq[Array[Byte]]): Seq[MultimodalOps.Decoded] = {
    if (payloads.exists(p => new String(p, "UTF-8") == "bad"))
      throw new IllegalArgumentException("undecodable payload")
    MultimodalOps.Md5FakeDecoder.decodeBatch(payloads)
  }
}
