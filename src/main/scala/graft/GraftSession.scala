package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local sessions run one shuffle partition per core with AQE on; on
  * a real cluster the same settings scale out because nothing here
  * hard-codes a partition count into the plans — shuffle parallelism
  * is a config, skew handling is delegated to AQE, and
  * small-dimension joins are explicitly broadcast.
  *
  * Every session built through [[tune]] also runs `file://` through
  * [[graft.io.ForkFreeLocalFs]] (`fs.file.impl`,
  * `fs.AbstractFileSystem.file.impl`). With no native `libhadoop`,
  * Hadoop's local filesystem starts a `chmod` process for each file or
  * directory it creates and several `readlink` processes per
  * `FileContext.rename`, so each streaming trigger's offset-WAL and
  * commit-log write, each sink part file and each staged fixture paid
  * for process starts. The override keeps `.crc` files, permission bits
  * and rename semantics as Hadoop's. It is not in [[baseConf]], so
  * [[clusterConfTemplate]] leaves `file://` to Hadoop: spark-submit
  * resolves `file://` jars and globs before the application jar is on
  * its classpath, and a cluster with `libhadoop` gains nothing from it.
  *
  * Caveat: `FileSystem.get` caches one instance per scheme, authority
  * and user for the JVM's life, whatever conf later asks. In a JVM whose
  * first `file://` lookup came from a conf without these keys,
  * `FileSystem.get` keeps returning Hadoop's stock `LocalFileSystem`
  * (correct, but starting processes) until the cache is closed.
  * `FileContext`, which Spark's checkpoint manager uses, builds its
  * filesystem per call and always follows the conf.
  */
object GraftSession {

  /** Engine defaults shared by the local test sessions and the cluster
    * template — one source of truth so the tested config can't drift
    * from the documented deployment config. */
  val baseConf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (64L << 20).toString,
    "spark.sql.files.maxPartitionBytes" -> (128L << 20).toString,
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer")

  /** Apply engine defaults to an arbitrary builder. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = {
    baseConf.foreach { case (k, v) => b.config(k, v) }
    b.config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.ForkFreeLocalFs].getName)
  }

  /** Cluster-deployment template: the engine-relevant confs a real
    * 1000-executor run sets, with the reference's operating constants
    * (BASELINE.md) mapped onto their Spark equivalents. Returned as a
    * map so deploy tooling can merge it into spark-submit confs. */
  def clusterConfTemplate: Map[String, String] = baseConf ++ Map(
    // reference unpack batch cap 128 MB (aws_utils.py:27) is already the
    // baseConf scan split size; add the file-open amortization
    "spark.sql.files.openCostInBytes" -> (4L << 20).toString,
    // reference 50-connection S3 pool (aws_utils.py:11) → S3A pool, scaled per executor
    "spark.hadoop.fs.s3a.connection.maximum" -> "64",
    "spark.hadoop.fs.s3a.fast.upload" -> "true",
    // shuffle sized for wide clusters; AQE coalesces down at runtime
    "spark.sql.shuffle.partitions" -> "2000",
    "spark.sql.parquet.compression.codec" -> "zstd",
    "spark.sql.extensions" -> "graft.GraftExtensions")

  /** Local session for the tests and the entry mains (Bench, RunOne,
    * Verify, ProfileOne): `local[cores]`, one shuffle partition per
    * core, WARN logs. */
  def local(cores: Int): SparkSession = {
    val spark = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
