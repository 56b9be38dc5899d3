package graft

import org.apache.spark.sql.SparkSession

/** The one Spark-session factory for graft's mains and test suites: the
  * session policy (`local[cores]`, shuffle parallelism = cores, UTC, no
  * UI, WARN logging, a generated-class cache that holds a whole query
  * mix) is written here once. A caller that needs a
  * different SQL setting sets it on the returned session with
  * `spark.conf.set`. `Bench` and `Verify` keep their own builders: the
  * measurement harness is frozen byte for byte.
  */
object Sessions {
  /** `SPARK_GRAFT_CPUS`, or 8 when unset. */
  def defaultCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt

  def local(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark keeps 100 generated classes per JVM, keyed by class loader
      // as well as code, so a class compiled on a driver thread and on an
      // executor thread takes two entries. Three text queries already hold
      // ~150 keys, so each pass recompiled its classes. A static setting:
      // it holds only if this is the JVM's first session.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
