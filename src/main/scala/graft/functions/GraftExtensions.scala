package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.DoubleType

import graft.geo.{HaversineMeters, PointInMultiPolygon, PointInPolygon}

/** SparkSessionExtensions entry point so ALL of graft's custom expressions
  * (geo + hash/sketch) are available in plain SQL on any session, including
  * thrift/connect servers:
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *
  * (Equivalent to the per-session GeoFunctions.register / HashExprs.register
  * used by the query library, but injected at session build time.)
  */
object GraftExtensions {
  /** Every function name the extension injects — GraftExtensionsSpec holds
    * this equal to what the per-session registrars install, so the two
    * registration paths cannot drift (a function reachable via
    * `register()` but missing from `spark.sql.extensions` would vanish on
    * thrift/connect servers). */
  val InjectedNames: Set[String] = Set(
    "haversine_m", "point_in_polygon", "point_in_multipolygon",
    "minhash_sig", "simhash64", "shingles3", "bigrams_all",
    "cosine_sim", "jaccard_sim", "hyperplane_bands", "top_cells", "rep_stats",
    "sig_match_count", "phash64", "pq_score", "vec_sub", "del_neighbors",
    "cdc_chunks", "quality_margin")
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, clazz: Class[_], builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), builder)

  override def apply(ext: SparkSessionExtensions): Unit = {
    // containment-join → cell-equi-join rewrite, routed on the bounds
    // side's size against spark.sql.autoBroadcastJoinThreshold
    ext.injectOptimizerRule(_ => graft.plans.RewriteContainmentJoin)
    ext.injectFunction(fn("haversine_m", classOf[HaversineMeters],
      { exprs =>
        require(exprs.length == 4, "haversine_m(lat1, lng1, lat2, lng2)")
        val d = exprs.map(e => if (e.dataType == DoubleType) e else Cast(e, DoubleType))
        HaversineMeters(d(0), d(1), d(2), d(3))
      }))
    ext.injectFunction(fn("point_in_polygon", classOf[PointInPolygon],
      graft.geo.GeoFunctions.buildPointInPolygon))
    ext.injectFunction(fn("point_in_multipolygon", classOf[PointInMultiPolygon],
      graft.geo.GeoFunctions.buildPointInMultiPolygon))
    ext.injectFunction(fn("minhash_sig", classOf[MinHashSignature],
      exprs => MinHashSignature(exprs.head)))
    ext.injectFunction(fn("simhash64", classOf[SimHash64],
      exprs => SimHash64(exprs.head)))
    ext.injectFunction(fn("shingles3", classOf[Shingles],
      exprs => Shingles(exprs.head, 3)))
    ext.injectFunction(fn("bigrams_all", classOf[Shingles],
      exprs => Shingles(exprs.head, 2, distinct = false)))
    ext.injectFunction(fn("cosine_sim", classOf[CosineSim],
      exprs => CosineSim(exprs(0), exprs(1))))
    ext.injectFunction(fn("jaccard_sim", classOf[JaccardSim],
      exprs => JaccardSim(exprs(0), exprs(1))))
    ext.injectFunction(fn("hyperplane_bands", classOf[HyperplaneBands],
      exprs => HyperplaneBands(exprs.head)))
    ext.injectFunction(fn("top_cells", classOf[TopCells], HashExprs.buildTopCells))
    ext.injectFunction(fn("rep_stats", classOf[RepStats],
      exprs => RepStats(exprs.head)))
    ext.injectFunction(fn("sig_match_count", classOf[SigMatchCount],
      exprs => SigMatchCount(exprs(0), exprs(1))))
    ext.injectFunction(fn("phash64", classOf[PHash64],
      exprs => PHash64(exprs.head)))
    ext.injectFunction(fn("pq_score", classOf[PqScore],
      exprs => PqScore(exprs(0), exprs(1))))
    ext.injectFunction(fn("vec_sub", classOf[VecSub],
      exprs => VecSub(exprs(0), exprs(1))))
    ext.injectFunction(fn("del_neighbors", classOf[DelNeighbors],
      HashExprs.buildDelNeighbors))
    ext.injectFunction(fn("cdc_chunks", classOf[CdcChunks],
      exprs => CdcChunks(exprs.head)))
    ext.injectFunction(fn("quality_margin", classOf[QualityMargin],
      HashExprs.buildQualityMargin))
  }
}
