package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** The one place a SparkSession is built. Every main (Bench, Verify,
  * StreamCli, the tools mains) and every spec session goes through
  * [[local]], so oracle dumps, plan reviews, profiles and tests run under
  * the confs Bench times.
  *
  * Env: SPARK_GRAFT_CPUS (local cores, default 4); SPARK_GRAFT_CONF
  * ("k=v;k=v", applied at build time over everything else — the one A/B
  * hook); SPARK_GRAFT_ONLY ("q1,q2", see [[only]]).
  */
object GraftSession {

  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Bench's session confs on `cpus` local cores. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // AQE coalescing sized by BYTES, not padded to core count
    // (spark_optimization_guide §2.2/§9): with the default
    // parallelismFirst=true every post-shuffle stage keeps up to
    // `cpus` ~1 MB partitions, paying ~5 ms of task scheduling per
    // slot per stage across the whole 321-query surface (A/B on the
    // 40 heaviest: exec 34.0 s -> 28.5 s). Partition count stays
    // scale-adaptive — AQE derives it from measured stage output /
    // advisoryPartitionSizeInBytes (default 64 MB here; a real
    // cluster would raise the advisory to 256 MB per guide §9), so
    // at 100 TB stages still fan out to thousands of partitions.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.caseSensitive" -> "true",
    "spark.ui.enabled" -> "false")

  /** Builds (or returns the existing) session: [[confs]], then the
    * caller's `overrides`, then SPARK_GRAFT_CONF, with
    * [[graft.functions.GraftExtensions]] installed, so every session
    * resolves the engine's SQL functions. */
  def local(cpus: Int = GraftSession.cpus,
      overrides: Seq[(String, String)] = Nil): SparkSession = {
    val all = (confs(cpus) ++ overrides ++
      parseConf(sys.env.get("SPARK_GRAFT_CONF"))).toMap
    val b = SparkSession.builder().withExtensions(new GraftExtensions)
    all.foreach { case (k, v) => b.config(k, v): Unit }
    b.getOrCreate()
  }

  /** Parses the "k=v;k=v" A/B hook. A value may contain '='; an empty or
    * '='-less entry fails naming the entry, rather than being dropped. */
  def parseConf(spec: Option[String]): Seq[(String, String)] =
    spec.filter(_.trim.nonEmpty).toSeq.flatMap(_.split(";").toSeq).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => sys.error(s"bad SPARK_GRAFT_CONF entry: '$kv'")
      }
    }

  /** SPARK_GRAFT_ONLY="q1,q2" as a query-name filter (names trimmed);
    * unset keeps every query. */
  def only(spec: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : String => Boolean = {
    val names = spec.map(_.split(",").map(_.trim).toSet)
    name => names.forall(_.contains(name))
  }
}
