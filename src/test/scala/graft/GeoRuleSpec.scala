package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, HaversineM}
import graft.plans.GeoBoxRule

/** The native haversine expression + the bbox-derivation optimizer rule
  * (the d199 oracle gate covers end-to-end correctness; these pin the
  * expression parity and the rule's edge behavior). */
class GeoRuleSpec extends SparkSpec {

  // parquet-backed (a LocalRelation would be constant-folded through the
  // filter by ConvertToLocalRelation, hiding the rewritten Filter node)
  private lazy val pts = {
    import spark.implicits._
    Standing.write(spark, "georule")(
      Seq((10.0, 20.0), (25.5, -60.1), (-45.0, 170.0), (89.5, 12.0)).toDF("lat", "lon"))
  }

  test("haversine_m is bit-identical to the composed Column form") {
    GraftFunctions.ensure(spark)
    val both = pts.select(
      call_function("haversine_m", col("lat"), col("lon"), lit(10.0), lit(20.0)).as("native"),
      graft.docs.Geo.haversineMeters(col("lat"), col("lon"), 10.0, 20.0).as("composed"),
      col("lat"), col("lon")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
      // and the interpreted twin agrees with codegen
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(
          HaversineM.compute(r.getDouble(2), r.getDouble(3), 10.0, 20.0)))
    }
  }

  test("GeoBoxRule: bbox conjuncts appear once (fixpoint-idempotent)") {
    GraftFunctions.ensure(spark)
    pts.createOrReplaceTempView("geo_rule_pts")
    val df = spark.sql(
      "SELECT * FROM geo_rule_pts WHERE haversine_m(lat, lon, 10.0D, 20.0D) <= 500000.0D")
    val opt = df.queryExecution.optimizedPlan
    val once = GeoBoxRule(opt)
    assert(once.treeString === opt.treeString,
      "rule must be a no-op on an already-rewritten plan")
    // the optimized filter carries the derived bounds
    val s = opt.treeString
    assert(s.contains(">=") && s.contains("<="), s)
    // hit set = plain haversine (the box is a superset of the circle)
    val manual = pts.filter(
      graft.docs.Geo.haversineMeters(col("lat"), col("lon"), 10.0, 20.0) <= 500000.0)
    assert(df.count() === manual.count())
  }

  test("GeoBoxRule: polar-cap and antimeridian origins add no lon bounds") {
    GraftFunctions.ensure(spark)
    pts.createOrReplaceTempView("geo_rule_pts2")
    def optPlan(sql: String): String =
      spark.sql(sql).queryExecution.optimizedPlan.treeString
    // polar: cos(maxAbsLat) < 0.02 → lat bounds only
    val polar = optPlan(
      "SELECT * FROM geo_rule_pts2 WHERE haversine_m(lat, lon, 89.5D, 0.0D) <= 100000.0D")
    assert(!polar.contains("lon#") || !polar.matches("(?s).*lon#\\d+ >=.*"),
      s"polar origin must not bound lon:\n$polar")
    // antimeridian wrap: lon box would cross ±180 → skipped
    val wrap = optPlan(
      "SELECT * FROM geo_rule_pts2 WHERE haversine_m(lat, lon, 0.0D, 179.5D) <= 2000000.0D")
    assert(!wrap.matches("(?s).*lon#\\d+ >=.*"),
      s"wrapping origin must not bound lon:\n$wrap")
    // lat bounds still present in both
    assert(polar.matches("(?s).*lat#\\d+ >=.*"), polar)
    assert(wrap.matches("(?s).*lat#\\d+ >=.*"), wrap)
  }
}
