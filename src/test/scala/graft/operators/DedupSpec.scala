package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
    (4L, "completely different words about spark query engines at scale"),
    (5L, "tiny doc")
  ).toDF("doc_id", "text")

  test("exactKeepFirst keeps min id and counts copies") {
    val out = Dedup.exactKeepFirst(docs, "text", "doc_id")
      .orderBy("doc_id_kept").collect()
    assert(out.length === 4)
    assert(out(0).getAs[Long]("doc_id_kept") === 1L)
    assert(out(0).getAs[Long]("n_copies") === 2L)
  }

  test("ngramJaccardPairs finds exact and near dups, skips unrelated") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .orderBy("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs(0)._3 === 1.0) // identical text
    assert(pairs(1)._3 > 0.5 && pairs(1)._3 < 1.0)
    // tiny doc (<3 words) produces no shingles and no pairs: verified by absence
  }

  test("DfCap.AdaptiveAvg equals DfCap.Fixed at the computed cap value " +
      "on the sf0.001 corpus") {
    // the adaptive rule is mult × ⌊Σdf/#distinct shingles⌋ over the
    // hashed posting lists — recompute it independently, then assert
    // the adaptive path emits exactly the fixed-cap pair set
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dfs = corpus.select(col("doc_id"),
        explode(TextAnalysis.wordShingleHashesNative(col("text"), 3)).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .agg(sum("df").cast("long").as("s"), count(lit(1)).as("c")).head()
    val cap = (2L * dfs.getLong(0) / dfs.getLong(1)).toInt
    assert(cap >= 1, s"degenerate fixture: cap=$cap")
    def pairSet(dc: Dedup.DfCap) =
      Dedup.ngramJaccardPairsPpm(corpus, "doc_id", "text", 3, 500000L, dc)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val adaptive = pairSet(Dedup.DfCap.AdaptiveAvg(2))
    assert(adaptive === pairSet(Dedup.DfCap.Fixed(cap)))
    assert(adaptive.nonEmpty, "capped pair set must be non-trivial here")
    // and the cap actually bites: uncapped differs
    assert(adaptive !== pairSet(Dedup.DfCap.NoCap))
  }

  test("minhashLshPairs reproduces the exact jaccard pair set at its design threshold") {
    // long docs, one-word edit → jaccard ≈ 0.85: inside LSH's (32×4) recall zone
    val words = (0 until 40).map(i => s"w$i")
    val longDocs = Seq(
      (10L, words.mkString(" ")),
      (11L, words.mkString(" ")),                                   // exact dup
      (12L, words.updated(20, "CHANGED").mkString(" ")),            // near dup
      (13L, (40 until 80).map(i => s"w$i").mkString(" "))           // unrelated
    ).toDF("doc_id", "text")
    val exact = Dedup.ngramJaccardPairs(longDocs, "doc_id", "text", 3, 0.8)
      .select("ida", "idb", "jaccard").orderBy("ida", "idb").collect().toSeq
    val lsh = Dedup.minhashLshPairs(longDocs, "doc_id", "text", 3, 128, 32, 0.8)
      .select("ida", "idb", "jaccard").orderBy("ida", "idb").collect().toSeq
    assert(exact.length === 3) // (10,11) 1.0, (10,12) ~0.85, (11,12) ~0.85
    assert(lsh === exact)
    // below the design threshold LSH still never reports false positives
    val lshLow = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 128, 32, 0.5)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactLow = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshLow.subsetOf(exactLow))
  }

  test("corpus-level: LSH pair set equals exact jaccard pair set at 0.8") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("ida", "idb", "jaccard").orderBy("ida", "idb").collect().toSeq
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 128, 32, 0.8)
      .select("ida", "idb", "jaccard").orderBy("ida", "idb").collect().toSeq
    assert(exact.nonEmpty) // the corpus embeds near-dups
    assert(lsh === exact)
  }

  test("simhash: identical text → distance 0; banding finds all close pairs") {
    val sh = Dedup.simhash64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(3L)) <= 16) // near dup is close-ish
    // pigeonhole completeness: every pair with hamming <= 3 is reported
    val reported = Dedup.simhashNearDups(docs, "doc_id", "text", 3)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = sh.keys.toSeq.sorted
    val want = (for {
      a <- ids; b <- ids if a < b && ham(sh(a), sh(b)) <= 3
    } yield (a, b)).toSet
    assert(reported === want)
  }

  test("native SimHashSig is bit-equal to the explode+sum aggregate, both hashes") {
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val edge = Seq((9001L, ""), (9002L, "solo"), (9003L, "a  b"),
      (9004L, " lead"), (9005L, "trail "), (9006L, "café über"))
      .toDF("doc_id", "text")
    val docs = corpus.unionByName(edge)
    for ((md5v, nBits) <- Seq((false, 64), (true, 60))) {
      val native = docs.select(col("doc_id"),
          Dedup.simhashSig(col("text"), nBits, md5v).as("simhash"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (md5v) Dedup.md5Hash60 else org.apache.spark.sql.functions.xxhash64(_)
      val rel = Dedup.simhashWith(docs, "doc_id", "text", hashFn, nBits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(native === rel, s"md5Variant=$md5v nBits=$nBits")
    }
  }

  test("prefix-filtered and count-based exact jaccard agree at any threshold") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    Seq(0.3, 0.5, 0.8).foreach { t =>
      val p = Dedup.prefixNgramJaccardPairs(corpus, "doc_id", "text", 3, t, Dedup.DfCap.NoCap)
      val c = Dedup.countNgramJaccardPairs(corpus, "doc_id", "text", 3, t, Dedup.DfCap.NoCap)
      assert(p.exceptAll(c).isEmpty && c.exceptAll(p).isEmpty,
        s"strategies disagree at threshold $t")
    }
  }

  test("connectedComponents labels chains and separate components") {
    // components: {1,2,3,4} (a chain), {10,11}, {20,21,22} (a star)
    val pairs = Seq(
      (2L, 3L), (1L, 2L), (3L, 4L),       // chain needs propagation depth
      (11L, 10L),
      (20L, 21L), (20L, 22L)
    ).toDF("ida", "idb")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents refuses to return unconverged labels") {
    // a path of length 6 cannot converge in 1 iteration; force the
    // distributed loop — the driver union-find (the size-gated default
    // since r16) always converges, so the refusal property is the
    // loop's alone
    val path = (1L until 7L).map(i => (i, i + 1)).toDF("ida", "idb")
    spark.conf.set(LocalGate.MaxRowsConf, "0")
    try {
      intercept[IllegalArgumentException] {
        Dedup.connectedComponents(path, maxIter = 1)
      }
    } finally spark.conf.unset(LocalGate.MaxRowsConf)
  }

  test("editDistancePairs equals the naive all-pairs levenshtein") {
    import org.apache.spark.sql.functions._
    // varied lengths so the length blocking actually prunes, plus
    // pairs that straddle bucket boundaries
    val texts = (0 until 60).map { i =>
      (i.toLong, "base text " + ("x" * (i % 13)) + (if (i % 7 == 0) "!" else ""))
    }
    val df = texts.toDF("doc_id", "text")
    val fast = Dedup.editDistancePairs(df, "doc_id", "text",
        maxDist = 4, bucketWidth = 4)
      .select("ida", "idb", "dist")
    val t = df.select(col("doc_id"), col("text"))
    val slow = t.toDF("ida", "ta")
      .crossJoin(t.toDF("idb", "tb"))
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"), levenshtein(col("ta"), col("tb")).as("dist"))
      .filter(col("dist") <= 4)
    assert(fast.count() === slow.count(), "pair multiplicity")
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
  }
}
