package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The one session shape every workload uses, so their numbers stay
  * comparable. */
object Sessions {
  def create(cores: Int, work: Path): SparkSession = {
    // shuffle files and spills go under the benchmark's work directory, next
    // to the tables, so both sides of a comparison flush the same way
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
