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
  }
}
