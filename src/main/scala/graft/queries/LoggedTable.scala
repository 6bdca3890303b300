package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import graft.operators.OccCommitLog

/** The two ends of an [[OccCommitLog]] table whose every insert and
  * delete action carries its artifact's schema as a `schema` metadata
  * token (DDL; Delta's `metaData.schemaString`, Armbrust et al.
  * VLDB '20): [[land]] writes a batch of artifacts and hands back
  * their tokens for the commits that follow, [[readLogged]] reads
  * committed artifacts under those tokens. The log is then the
  * authority for both the file list and the schema, so planning a read
  * lists the log and starts no Spark job. Shared by the p23 stage and
  * the p38/p41/p43/p44 tables. */
private[queries] object LoggedTable {

  /** The most artifacts [[land]] writes at the same time. */
  private val MaxConcurrentWrites = 4

  /** Write each `(path, frame)` artifact as one parquet file, up to
    * [[MaxConcurrentWrites]] at the same time, one thread per artifact,
    * and return each artifact's `schema` token in input order. A fresh
    * thread inherits the caller's Spark local properties (job group,
    * scheduler pool) when it is constructed, so the writes' jobs are
    * tagged as the caller's. Returns only after every write of a batch
    * has finished; if any failed, it throws naming that artifact's path
    * (further failures ride as suppressed) and writes nothing more, so
    * a caller that commits afterwards never names data that did not
    * land. */
  def land(artifacts: Seq[(String, DataFrame)]): Seq[Map[String, String]] = {
    artifacts.grouped(MaxConcurrentWrites).foreach { batch =>
      val failed = new java.util.concurrent.ConcurrentLinkedQueue[(String, Throwable)]()
      val writers = batch.map { case (path, df) =>
        new Thread(() =>
          try df.coalesce(1).write.mode("overwrite").parquet(path)
          catch { case t: Throwable => failed.add(path -> t) })
      }
      writers.foreach(_.start())
      writers.foreach(_.join())
      if (!failed.isEmpty) {
        val (path, first) = failed.peek()
        val e = new IllegalStateException(
          s"landing artifact $path failed: ${first.getMessage}", first)
        failed.forEach(f => if (f._2 ne first) e.addSuppressed(f._2))
        throw e
      }
    }
    artifacts.map { case (_, df) => Map("schema" -> df.schema.toDDL) }
  }

  /** The artifacts of `commits` read under the schema their commits
    * recorded: no inference job, no footer read. Every commit must
    * carry a `schema` token and all must agree; a missing or
    * conflicting token fails naming the version, never falls back to
    * inference. With `versionCol`, each version's artifacts are read
    * apart and tagged with that version in the named column. */
  def readLogged(spark: SparkSession, commits: Seq[OccCommitLog.Commit],
      label: String, versionCol: Option[String] = None): DataFrame = {
    val ddls = commits.map { c =>
      c.version -> c.meta.getOrElse("schema", throw new IllegalStateException(
        s"commit at version ${c.version} in $label (${c.kind} ${c.path}) " +
          "records no schema — a logged table must carry one per action"))
    }
    val (v0, ddl) = ddls.head
    ddls.find(_._2 != ddl).foreach { case (v, other) =>
      throw new IllegalStateException(
        s"commit at version $v in $label records schema '$other', " +
          s"conflicting with version $v0's '$ddl'")
    }
    def read(cs: Seq[OccCommitLog.Commit]): DataFrame =
      spark.read.schema(ddl).parquet(cs.map(_.path).sorted: _*)
    versionCol match {
      case None => read(commits)
      case Some(c) =>
        commits.groupBy(_.version).toSeq.sortBy(_._1)
          .map { case (v, cs) => read(cs).withColumn(c, lit(v)) }
          .reduce(_ unionByName _)
    }
  }
}
