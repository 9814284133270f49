package graft

/** `prims.Aqe.off`, the scoped AQE disable the skew-sensitive loops run
  * under: conf scoping, width clamping and reentrant restore. */
class SkewSpec extends SparkSpec {

  test("Aqe.off scopes AQE and sized shuffle partitions, restoring both") {
    val beforeAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val beforeParts = spark.conf.get("spark.sql.shuffle.partitions")
    val seen = graft.prims.Aqe.off(spark, 1200000L) {
      (spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"))
    }
    assert(seen._1 == "false")
    assert(seen._2 == "3") // 1.2M rows / 500k + 1, below the session setting
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == beforeAqe)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == beforeParts)
  }

  test("Aqe.off never raises partitions above the session setting") {
    val beforeParts = spark.conf.get("spark.sql.shuffle.partitions")
    val seen = graft.prims.Aqe.off(spark, 900000000L) {
      spark.conf.get("spark.sql.shuffle.partitions")
    }
    assert(seen == beforeParts) // clamped to the session value, not 1801
    assert(spark.conf.get("spark.sql.shuffle.partitions") == beforeParts)
  }

  test("Aqe.off nests reentrantly; inner clamps to and restores the outer scope") {
    val seen = graft.prims.Aqe.off(spark, 10L) {
      val inner = graft.prims.Aqe.off(spark, 600000L) {
        spark.conf.get("spark.sql.shuffle.partitions")
      }
      (inner, spark.conf.get("spark.sql.shuffle.partitions"))
    }
    // the inner scope may not RAISE width above the enclosing scope (its
    // clamp reads the current — outer-scoped — setting), and its restore
    // returns the outer scope's value, not the session's
    assert(seen._1 == "1" && seen._2 == "1")
  }
}
