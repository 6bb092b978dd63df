package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: every main (Bench, Verify,
  * ExplainDump, StreamSoak) and the test suite start here, so their confs
  * cannot drift apart. A session is `local[n]` with n shuffle partitions,
  * UTC and no UI, logs at WARN, and has run [[Bench.warmCollation]] before
  * it is handed out. Engine extensions are not installed here: sessions
  * the engine does not build (a host application's, the benchmark
  * client's) get them from the call-time `GraftFunctions.ensure`, so that
  * stays the one install path. */
object GraftSession {

  /** `local[cpus]` with `extra` confs on top of the shared ones. */
  def local(cpus: Int = envCpus, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.warmCollation(spark)
    spark
  }

  /** Cores of a local session: SPARK_GRAFT_CPUS, else min(32, nproc). */
  def envCpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(raw: Option[String]): Int =
    positiveInt("SPARK_GRAFT_CPUS", raw,
      math.min(32, Runtime.getRuntime.availableProcessors()))

  /** The value of env var `name`: a positive integer, `default` when unset.
    * Anything else is an IllegalArgumentException naming the variable. */
  private[graft] def positiveInt(name: String, raw: Option[String], default: => Int): Int =
    raw match {
      case None => default
      case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(s"$name must be a positive integer, got '$v'"))
    }
}
