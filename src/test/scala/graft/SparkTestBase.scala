package graft

import org.apache.spark.sql.SparkSession

/** One shared local session across all suites (getOrCreate reuses the
  * first), UTC + nanosAsLong to match the engine's required confs. Its
  * warehouse lives under the per-JVM [[Tables.scratch]] root, so managed
  * tables never outlive the test JVM or meet another JVM's.
  */
trait SparkTestBase {
  lazy val spark: SparkSession = Tuning(SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", Tables.scratch("warehouse")))
    .getOrCreate()

  def sf(name: String): String = s"/root/testdata/$name"
}
