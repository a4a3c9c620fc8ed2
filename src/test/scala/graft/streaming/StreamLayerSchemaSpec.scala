package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

/** The stream layers are read with DECLARED schemas (a parquet read
  * without one costs a schema-inference job per read, per trigger).
  * A declared schema that drifts from its writer would read nulls or
  * fail late, so each layer here is written through its real writer
  * and its files' schema must equal the declared one, nullability
  * aside. */
class StreamLayerSchemaSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

  /** `t` with every nullability flag dropped — parquet reads relax
    * them anyway. */
  private def shape(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => StructField(f.name, shape(f.dataType))))
    case a: ArrayType => ArrayType(shape(a.elementType))
    case o => o
  }

  private def assertLayer(dir: String, declared: StructType): Unit =
    assert(shape(spark.read.parquet(dir).schema) === shape(declared),
      s"$dir: the writer's schema drifted from the declared one")

  test("pairs, index and cmap layers carry exactly their declared " +
      "schemas") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sls").toString
    // batch 0 forms cluster {5, 6}; batch 1's doc 1 joins it and
    // relabels the cluster — both relabel and new-node rows land
    assert(StreamNearDup.pairBatch(Seq(NdDoc(5L, base + " lambda mu"),
      NdDoc(6L, base + " lambda nu")).toDS(), 0L, dir, 3, 300000L))
    StreamClusters.foldCommitted(spark, dir)
    assert(StreamNearDup.pairBatch(Seq(NdDoc(1L, base + " lambda"))
      .toDS(), 1L, dir, 3, 300000L))
    StreamClusters.foldCommitted(spark, dir)
    assert(StreamNearDup.compactIndex(spark, dir, 3) === Some(1L))

    Seq(0L, 1L).foreach { v =>
      assertLayer(s"$dir/pairs/b=$v", StreamNearDup.PairsSchema)
      assertLayer(s"$dir/index/b=$v", StreamIndex.IndexSchema)
      assertLayer(s"$dir/cmap/b=$v", StreamClusters.DeltaSchema)
    }
    assertLayer(s"$dir/index/c=1", StreamIndex.IndexSchema)
    // anti-vacuity: the fold wrote both row kinds, and the view reads
    // them back through the declared schema
    val delta = spark.read.parquet(s"$dir/cmap/b=1").collect()
    assert(delta.exists(_.getAs[Boolean]("_rel")))
    assert(delta.exists(!_.getAs[Boolean]("_rel")))
    assert(StreamClusters.clusterView(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 1L), (5L, 1L), (6L, 1L)))
    // the cmap snapshot the compaction writes, read back through the
    // declared schema by the next view
    assert(StreamClusters.compactClusters(spark, dir) === Some(1L))
    assertLayer(s"$dir/cmap/c=1", StreamClusters.MapSchema)
    assert(StreamClusters.clusterView(spark, dir).count() === 3L)
  }

  test("fps and ebkt layers carry exactly their declared schemas") {
    val fpDir = java.nio.file.Files.createTempDirectory("graft_sls_fp").toString
    // 24 words, 12 en-stopword hits: lang 'en', quality ≥ 0.3
    val en = "the alpha of beta and gamma the delta of epsilon " +
      "and zeta the eta of theta and iota the kappa of lambda and mu"
    assert(StreamAdmission.curateBatch(Seq(NdDoc(1L, en + " nu xi"),
      NdDoc(2L, en + " nu omicron")).toDS(), 0L, fpDir))
    assert(StreamAdmission.curateBatch(Seq(NdDoc(3L, en + " nu pi")).toDS(),
      1L, fpDir))
    assert(StreamAdmission.compactFps(spark, fpDir) === Some(1L))
    Seq("b=0", "b=1", "c=1").foreach(v =>
      assertLayer(s"$fpDir/fps/$v", StreamAdmission.FpsSchema))
    assert(StreamAdmission.fpView(spark, fpDir).count() === 3L)

    val embDir = java.nio.file.Files.createTempDirectory("graft_sls_eb").toString
    val v = (seed: Int) => Array.tabulate(64)(i => math.sin(seed * 7 + i))
    assert(StreamEmbed.pairBatch(Seq(EmbDoc(1L, v(1)), EmbDoc(2L, v(2)))
      .toDS(), 0L, embDir))
    assert(StreamEmbed.pairBatch(Seq(EmbDoc(3L, v(1))).toDS(), 1L, embDir))
    assert(StreamEmbed.compactBuckets(spark, embDir) === Some(1L))
    Seq("b=0", "b=1", "c=1").foreach(b =>
      assertLayer(s"$embDir/ebkt/$b", StreamEmbed.BucketsSchema))
    // 3 vectors × 13 radius-1 probes, read through the declared schema
    assert(StreamEmbed.bucketsView(spark, embDir).count() === 39L)
  }
}
