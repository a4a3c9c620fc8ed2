package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Vector similarity search over an `array<float>` embedding column:
  * brute-force cosine top-k as the exact baseline, and deterministic
  * hyperplane-LSH bucketing as the scale path.
  *
  * Scale design: brute force is O(|queries|·|corpus|·dim) — fine when
  * the query side broadcasts (it is per-query-row parallel and never
  * shuffles the corpus). The LSH variant buckets the corpus once
  * (map-only), so each query only meets its bucket's candidates —
  * the standard recall/cost trade; both share the same rerank code.
  * The hot-path cosine is a native codegen'd Catalyst expression
  * (org.apache.spark.sql.graft.CosineSimilarity); bucketing and the
  * reference dot/norm helpers use built-in higher-order functions.
  */
object Similarity {

  /** dot(a,b) in double (higher-order-function formulation — portable
    * but interpreted; prefer [[cosine]] for the hot path). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine over `array<float>` via the native codegen'd
    * [[graft.plans.CosineSimilarity]] expression (fused loop inside
    * whole-stage codegen; the HOF variant below runs interpreted). */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.CosineSimilarity(
        org.apache.spark.sql.graft.ColumnShim.expression(a),
        org.apache.spark.sql.graft.ColumnShim.expression(b)))

  /** Interpreted HOF cosine — reference implementation for testing. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force cosine top-k: every query row against the whole
    * corpus. Queries are broadcast (small side); ranking tie-breaks on
    * neighbor id for determinism. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("_qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("_qv"), col("_cv")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * xxhash64 folded into [-1, 1]. No RNG state — reproducible across
    * runs and engines that share xxhash64. */
  private def planeWeight(plane: Int, dim: Column): Column =
    (pmod(xxhash64(lit(plane), dim), lit(2000001)).cast("double") -
      lit(1000000.0)) / lit(1000000.0)

  /** Sign-bit bucket id from `nPlanes` hyperplanes — vectors in the
    * same bucket are likely neighbors (cosine LSH). Map-only; native
    * codegen'd expression with the constant weight matrix hoisted out
    * of the per-row loop (the HOF form below recomputes it per row,
    * interpreted — see HyperplaneLshBucket). */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int = 12,
      planeOffset: Int = 0): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.HyperplaneLshBucket(
        org.apache.spark.sql.graft.ColumnShim.expression(vec), dim, nPlanes,
        planeOffset))

  /** HOF reference formulation of [[lshBucket]] — bit-parity asserted
    * in HyperplaneLshBucketSpec; kept for differential testing only. */
  def lshBucketHof(vec: Column, dim: Int, nPlanes: Int = 12): Column =
    (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(vec,
          transform(sequence(lit(0), lit(dim - 1)), i => planeWeight(p, i)),
          (x, w) => x * w),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** The Hamming-radius-1 probe set for a bucket code: itself plus
    * every single-bit flip. A near-neighbor pair disagrees on a
    * hyperplane only when the projection sits near zero, so radius-1
    * probing recovers any pair that disagrees on at most one plane —
    * the dominant miss mode. nPlanes+1 probes per row. */
  private def probeRadius1(bucket: Column, nPlanes: Int): Column =
    array((lit(0L) +: (0 until nPlanes).map(p => lit(1L << p))).map(m =>
      bucket.bitwiseXOR(m)): _*)

  /** A raw bucket's probe set: radius 1 when multiProbe, else itself. */
  private def probeSet(b0: Column, nPlanes: Int, multiProbe: Boolean): Column =
    if (multiProbe) probeRadius1(b0, nPlanes) else array(b0)

  /** Multi-table LSH top-k — the recall workhorse. One table of r
    * planes only recovers pairs that agree on (almost) every plane; at
    * realistic neighbor angles (θ ≈ 50–70°, per-plane agreement
    * p ≈ 0.6–0.75) a single 12-bit table misses nearly everything.
    * The standard fix — exactly the banding trick MinHash-LSH uses —
    * is L independent tables of r planes each: a pair is a candidate
    * if it collides in ANY table, so recall = 1−(1−pʳ)ᴸ (with radius-1
    * multiprobe, per-table collision improves to pʳ + r·pʳ⁻¹(1−p)).
    * r=4, L=16 turns p=0.6 into ≈0.999 recall where one 12-bit table
    * gives ≈0.02.
    *
    * Scale shape: corpus bucketing is map-only (nTables codes per row,
    * each an independent codegen'd plane family via planeOffset); the
    * join key packs (table, code) into one long, so candidates meet in
    * a plain equi-join keyed long — shuffle volume is nTables× corpus
    * ids, never pairs. Candidates dedupe before the exact rerank. */
  private def multiTableKeys(vec: Column, dim: Int, nPlanes: Int,
      nTables: Int): Column = {
    require(nPlanes >= 1 && nPlanes <= 16, "nPlanes (r) must be in [1,16]")
    require(nTables >= 1 && nTables * nPlanes <= 1024, "too many planes")
    array((0 until nTables).map { t =>
      lshBucket(vec, dim, nPlanes, planeOffset = t * nPlanes) +
        lit(t.toLong << nPlanes)
    }: _*)
  }

  /** The deduped (query_id, neighbor_id) candidate set of
    * [[lshTopKMulti]], ids only — for callers that rerank through
    * their own scoring (e.g. the exact-decimal oracle math). */
  def lshCandidatePairsMulti(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, nPlanes: Int = 4,
      nTables: Int = 16, multiProbe: Boolean = true): DataFrame = {
    val cb = corpus.select(col(idCol).as("neighbor_id"),
      explode(multiTableKeys(col(vecCol), dim, nPlanes, nTables)).as("_key"))
    val qb = queries.select(col(idCol).as("query_id"),
      explode(multiTableKeys(col(vecCol), dim, nPlanes, nTables)).as("_tk"))
      .select(col("query_id"),
        explode(probeSet(col("_tk"), nPlanes, multiProbe)).as("_key"))
      .distinct()
    broadcast(qb).join(cb, Seq("_key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
  }

  /** Approximate top-k over [[multiTableKeys]] candidates, exact cosine
    * rerank. `nTables = 1` is the single-table form: table 0's key
    * offset is 0, so its keys are the plain bucket codes. */
  def lshTopKMulti(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, nPlanes: Int = 4, nTables: Int = 16,
      multiProbe: Boolean = true): DataFrame = {
    val cb = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
      explode(multiTableKeys(col(vecCol), dim, nPlanes, nTables)).as("_key"))
    val qb = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
      explode(multiTableKeys(col(vecCol), dim, nPlanes, nTables)).as("_tk"))
      .select(col("query_id"), col("_qv"),
        explode(probeSet(col("_tk"), nPlanes, multiProbe)).as("_key"))
      .distinct()
    // cosine before the dedupe agg: a few fused FMAs per duplicate beat
    // shuffling the vectors through the groupBy
    val scored = broadcast(qb)
      .join(cb, Seq("_key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("_qv"), col("_cv")).as("cos"))
      .groupBy("query_id", "neighbor_id").agg(first(col("cos")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** IVF (inverted-file) ANN: k-means centroids partition the corpus
    * into nLists posting lists (one-time fit + map-only assignment);
    * each query probes its nProbe nearest centroids' lists and reranks
    * exactly with the native cosine. The standard trade against LSH:
    * data-adaptive cells (better recall on clustered data) for the
    * cost of the training pass. Deterministic under a fixed seed.
    *
    * The fit runs on a deterministic hash-mod sample
    * (`trainFraction`, default 10%) — centroid quality needs sample
    * density, not the full corpus, and the training pass is the IVF
    * bottleneck at scale (measured 51 s → 36 s on the 1M-vector
    * stress, identical recall; the residual is candidate scoring).
    * Assignment stays full-corpus and map-only; corpora with fewer
    * than ~20·nLists sampled points train on everything. */
  /** The one-time k-means codebook fit shared by [[ivfTopK]] and the
    * fitted topic-balance twin: trains on a deterministic hash-mod
    * sample (`trainFraction`, default 10%) — centroid quality needs
    * sample density, not the full corpus, and the training pass is
    * the bottleneck at scale (measured 51 s → 36 s on the 1M-vector
    * stress, identical recall). A sample thinner than ~20 points per
    * centroid trains bad (or, below k distinct points, crashing)
    * cells — small corpora just train on everything; the sample only
    * exists to bound BIG fits. The floor gate counts through a limit
    * so it short-circuits instead of scanning the full sample when
    * the corpus is large. */
  /** Session memo for fitted codebooks — a trained IVF index / topic
    * codebook is a materialized PER-SNAPSHOT artifact (fit once, serve
    * every query), the same cost model as the near-dup cluster map and
    * the BPE merge table. Keyed by a caller-supplied corpus key (the
    * data dir) plus the fit parameters; the model is driver-held
    * centroids only, so nothing is released beyond dropping stopped
    * sessions' keys. The seeded fit is deterministic, so memoization
    * cannot change any result. */
  private val codebookMemo =
    new graft.SessionMemo[org.apache.spark.ml.clustering.KMeansModel]()
  private[graft] def memoCodebook(corpusKey: String, corpus: DataFrame,
      idCol: String, vecCol: String, nLists: Int, seed: Long,
      trainFraction: Int): org.apache.spark.ml.clustering.KMeansModel = {
    val s = corpus.sparkSession
    // the key must carry the full fit identity: corpus dir AND which
    // table/columns were fitted (schema tag + id/vec cols) AND every
    // fit parameter — two callers fitting different columns under the
    // same data dir must never share a model
    val tableTag = corpus.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    codebookMemo(s,
      s"$corpusKey#$tableTag#$idCol#$vecCol#$nLists#$seed#$trainFraction")(
      fitCodebook(corpus, idCol, vecCol, nLists, seed, trainFraction))
  }

  private[graft] def fitCodebook(corpus: DataFrame, idCol: String,
      vecCol: String, nLists: Int, seed: Long,
      trainFraction: Int): org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val featurized = corpus
      .select(array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val sampled = Sampling.hashSample(
      corpus.select(col(idCol), col(vecCol)), idCol,
      math.max(trainFraction, 1), Seq(0))
      .select(array_to_vector(col(vecCol).cast("array<double>")).as("features"))
      .cache()
    val floor = 20L * nLists
    val trainRows =
      if (sampled.limit(floor.toInt).count() >= floor) sampled
      else featurized
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(10)
      .fit(trainRows)
    sampled.unpersist()
    model
  }

  /** Map-only nearest-fitted-centroid assignment: (id, cluster_id)
    * rows from the model's euclidean argmin — the production
    * assignment stage a fixed-K deployment broadcasts. */
  private[graft] def fittedAssignments(corpus: DataFrame, idCol: String,
      vecCol: String, model: org.apache.spark.ml.clustering.KMeansModel): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    model.transform(corpus.select(col(idCol),
        array_to_vector(col(vecCol).cast("array<double>")).as("features")))
      .select(col(idCol), col("prediction").cast("long").as("cluster_id"))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nLists: Int = 16, nProbe: Int = 2,
      seed: Long = 42L, trainFraction: Int = 10,
      corpusKey: Option[String] = None): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._

    val featurized = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("_cv"),
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    // corpusKey opts into the per-snapshot codebook memo (fit once,
    // serve every query); keyless callers keep the fresh fit
    val model = corpusKey match {
      case Some(key) =>
        memoCodebook(key, corpus, idCol, vecCol, nLists, seed, trainFraction)
      case None => fitCodebook(corpus, idCol, vecCol, nLists, seed, trainFraction)
    }
    val assigned = model.transform(featurized)
      .select(col("neighbor_id"), col("_cv"), col("prediction").as("_list"))

    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("_list", "_centroid")
    // nLists is small: probe selection is a broadcast cross join
    val qProbes = broadcast(
      queries.select(col(idCol).as("query_id"),
          col(vecCol).as("_qv"),
          col(vecCol).cast("array<double>").as("_qd"))
        .crossJoin(broadcast(centroids))
        .select(col("query_id"), col("_qv"), col("_list"),
          aggregate(zip_with(col("_qd"), col("_centroid"),
            (x, c) => (x - c) * (x - c)), lit(0.0), (a, v) => a + v).as("_d2")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("_d2").asc, col("_list").asc)
    val probed = qProbes.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= nProbe)
      .select("query_id", "_qv", "_list")

    val scored = broadcast(probed).join(assigned, Seq("_list"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("_qv"), col("_cv")).as("cos"))
      .groupBy("query_id", "neighbor_id").agg(first(col("cos")).as("cos"))
    val wr = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("_rn", row_number().over(wr))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Scale-path embedding near-dup: bucket by hyperplane signs
    * (map-only), generate pairs only within buckets (±probes low-bit
    * flips widen recall), rerank with exact cosine. Replaces the O(n²)
    * cartesian with a bucket-key equi self-join. */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, nPlanes: Int = 12,
      multiProbe: Boolean = true): DataFrame = {
    val b0 = df.select(col(idCol).as("_id"), col(vecCol).as("_v"),
      lshBucket(col(vecCol), dim, nPlanes).as("_b0"))
    // probe one side at radius 1, keep the other exact: a pair whose
    // codes differ in ≤1 bit meets exactly through the flipped probe
    val probed = b0.select(col("_id"), col("_v"),
      explode(probeSet(col("_b0"), nPlanes, multiProbe)).as("_bucket"))
    val a = probed.toDF("ida", "va", "bucket")
    val b = b0.toDF("idb", "vb", "bucket2")
    a.join(b, col("bucket") === col("bucket2") && col("ida") < col("idb"))
      .select(col("ida"), col("idb"), cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy("ida", "idb").agg(first(col("cos")).as("cos"))
  }

  /** Candidate (ida, idb) pairs of [[lshNearDupPairs]], ids only and
    * unthresholded — for callers that score through their own math
    * (e.g. exact-decimal); the final threshold belongs with that
    * scoring so the float prefilter can't clip boundary pairs. */
  def lshNearDupCandidates(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, nPlanes: Int = 12, multiProbe: Boolean = true): DataFrame = {
    val b0 = df.select(col(idCol).as("_id"),
      lshBucket(col(vecCol), dim, nPlanes).as("_b0"))
    val probed = b0.select(col("_id"),
      explode(probeSet(col("_b0"), nPlanes, multiProbe)).as("_bucket"))
    probed.toDF("ida", "bucket")
      .join(b0.toDF("idb", "bucket2"),
        col("bucket") === col("bucket2") && col("ida") < col("idb"))
      .select("ida", "idb")
      .distinct()
  }

  /** The raw hyperplane-bucket table ((_id, _b0) — one row per
    * vector). With [[probedBuckets]], the pair of per-snapshot
    * artifacts the incremental near-dup recurrence serves from. */
  def rawBuckets(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, nPlanes: Int = 12): DataFrame =
    df.select(col(idCol).as("_id"),
      lshBucket(col(vecCol), dim, nPlanes).as("_b0"))

  /** The radius-1-probed bucket table (1 + nPlanes rows per vector
    * when multiProbe) — probing is folded INTO the artifact, so the
    * daily batch never maps over the corpus. */
  def probedBuckets(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, nPlanes: Int = 12, multiProbe: Boolean = true): DataFrame =
    probedFromRaw(rawBuckets(df, idCol, vecCol, dim, nPlanes), nPlanes,
      multiProbe)

  /** Derive the probed table from an ALREADY-HASHED raw bucket table
    * (`(_id, _b0)`) — a map-only explode, no second hyperplane pass.
    * The streaming trigger hashes its batch once and derives raw,
    * probed, and the ebkt delta from that one frame. */
  def probedFromRaw(raw: DataFrame, nPlanes: Int,
      multiProbe: Boolean = true): DataFrame =
    raw.select(col("_id"),
      explode(probeSet(col("_b0"), nPlanes, multiProbe)).as("_bucket"))

  /** Fold a re-embedded batch into the probed-bucket artifact: the
    * hyperplanes are deterministic in (dim, nPlanes) — corpus-
    * independent — so the fold is a pure O(batch) append of the
    * batch's own probed buckets; no corpus vector is re-hashed, and
    * append ≡ rebuild on the union corpus exactly
    * (DurableArtifactsSpec pins it). Requires batch ids disjoint from
    * corpus ids (the engine's offset layout). */
  def appendToEmbBuckets(corpusProbed: DataFrame, increment: DataFrame,
      idCol: String, vecCol: String, dim: Int, nPlanes: Int = 12,
      multiProbe: Boolean = true): DataFrame =
    corpusProbed.unionByName(
      probedBuckets(increment, idCol, vecCol, dim, nPlanes, multiProbe))

  /** INCREMENTAL [[lshNearDupCandidates]]: candidate pairs TOUCHING
    * the increment only, with the corpus bucket table never
    * self-joined — increment×corpus candidates from one equi join of
    * the PROBED corpus artifact against the batch's raw buckets,
    * increment-internal from the batch's own probed self-join.
    * Reproduces the full form's candidate set restricted to ≥1-new
    * EXACTLY (the probe direction is keyed on the smaller pair id,
    * so this requires every increment id above every corpus id — the
    * engine's batch id layout). */
  def incrementalLshCandidates(corpusProbed: DataFrame,
      increment: DataFrame, idCol: String, vecCol: String, dim: Int,
      nPlanes: Int = 12, multiProbe: Boolean = true): DataFrame = {
    incrementalLshCandidatesPrebuilt(corpusProbed,
      rawBuckets(increment, idCol, vecCol, dim, nPlanes), nPlanes, multiProbe)
  }

  /** [[incrementalLshCandidates]] with the batch's raw bucket table
    * PREBUILT — the streaming trigger
    * ([[graft.streaming.StreamEmbed.pairBatch]]) hashes its batch
    * against the hyperplanes ONCE and derives the probes here (and the
    * ebkt delta it appends) from that frame; the from-vectors form
    * hashed the batch three times per trigger. Row-identical by
    * construction (the delegate above IS this function).
    *
    * Driver path (long ids, everything within [[LocalGate]]): the
    * batch's raw buckets and probe sets are collected in one bounded
    * probe ([[LocalGate.collectIfFits]]), the corpus rows whose bucket is one of the
    * batch's raw buckets in one filtered scan
    * ([[LocalGate.filterToIds]]), and the pairs are formed on the
    * driver with the same `ida < idb` and dedupe — a local relation,
    * two jobs where the equi joins below stage four to six. The
    * candidate count is bounded by the gate before any pair is built;
    * over the gate the distributed joins run unchanged. */
  def incrementalLshCandidatesPrebuilt(corpusProbed: DataFrame,
      incRaw: DataFrame, nPlanes: Int,
      multiProbe: Boolean = true): DataFrame =
    localLshCandidates(corpusProbed, incRaw, nPlanes, multiProbe)
      .getOrElse(distributedLshCandidates(corpusProbed, incRaw,
        probedFromRaw(incRaw, nPlanes, multiProbe)))

  private def localLshCandidates(corpusProbed: DataFrame,
      incRaw: DataFrame, nPlanes: Int,
      multiProbe: Boolean): Option[DataFrame] = {
    val longIds = Seq(corpusProbed, incRaw).forall(df =>
      df.schema.fields.take(2).forall(_.dataType == LongType))
    if (!longIds) return None
    val Array(rId, rB0) = incRaw.columns
    val Array(cId, cBucket) = corpusProbed.columns
    val probes = if (multiProbe) nPlanes + 1 else 1
    // a batch row carries its probe set: `probes` elements
    val batch = LocalGate.collectIfFits(incRaw.select(col(rId), col(rB0),
        probeSet(col(rB0), nPlanes, multiProbe)), width = probes)
      .getOrElse(return None)
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val byBucket: Map[Long, Array[Long]] =
      batch.groupMap(_.getLong(1))(_.getLong(0))
    val corpus =
      if (byBucket.isEmpty) Array.empty[Row]
      else LocalGate.collectIfFits(LocalGate.filterToIds(
          corpusProbed.select(col(cId), col(cBucket)), cBucket,
          byBucket.keys)).getOrElse(return None)
        .filter(r => !r.isNullAt(0))
    val hits = (b: Long) => byBucket.get(b).fold(0L)(_.length.toLong)
    val candidates = corpus.iterator.map(r => hits(r.getLong(1))).sum +
      batch.iterator.map(r => r.getSeq[Long](2).iterator.map(hits).sum).sum
    if (candidates > LocalGate.maxRows(incRaw.sparkSession)) return None
    val pairs = scala.collection.mutable.HashSet.empty[(Long, Long)]
    def pairWith(a: Long, bucket: Long): Unit =
      byBucket.get(bucket).foreach(_.foreach(b => if (a < b) pairs += ((a, b))))
    corpus.foreach(r => pairWith(r.getLong(0), r.getLong(1)))
    batch.foreach(r => r.getSeq[Long](2).foreach(pairWith(r.getLong(0), _)))
    Some(LocalGate.longPairFrame(incRaw.sparkSession, "ida", "idb", pairs))
  }

  private def distributedLshCandidates(corpusProbed: DataFrame,
      incRaw: DataFrame, incProbed: DataFrame): DataFrame = {
    // `ida < idb` is a no-op under the contract (every increment id
    // above every corpus id) and a guard against its violation: an id
    // present on BOTH sides (a re-submitted vector) would otherwise
    // self-pair at cos 1.0 and flip emission orientation
    val candXC = corpusProbed.toDF("ida", "bucket")
      .join(incRaw.toDF("idb", "bucket2"),
        col("bucket") === col("bucket2") && col("ida") < col("idb"))
      .select("ida", "idb")
    val candII = incProbed
      .toDF("ida", "bucket")
      .join(incRaw.toDF("idb", "bucket2"),
        col("bucket") === col("bucket2") && col("ida") < col("idb"))
      .select("ida", "idb")
    candXC.unionByName(candII).distinct()
  }

  /** All pairs (a<b) with cosine ≥ threshold within `df` — embedding
    * near-dup detection. Exact; O(n²·dim), so use on a bucketed or
    * sampled candidate set (pair with [[lshBucket]] at scale). */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("ida"), col(vecCol).as("_va"))
    val b = df.select(col(idCol).as("idb"), col(vecCol).as("_vb"))
    a.join(b, col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        cosine(col("_va"), col("_vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
