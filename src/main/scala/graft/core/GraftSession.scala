package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Defaults chosen for correctness + 100TB-mindset even when testing on
  * local[N]:
  *  - UTC session timezone (timestamp parity with any external oracle and
  *    with the reference's TZ-aware DateTime -> UTC mapping,
  *    reference db_utils.py:65-86)
  *  - AQE on (runtime coalescing of shuffle partitions, skew-join splitting)
  *  - shuffle partitions sized to the local core count rather than the 200
  *    default; on a real cluster this is expected to be overridden to
  *    ~2-3x total cores
  */
object GraftSession {
  def localCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.max(4, Runtime.getRuntime.availableProcessors()))

  /** `local[cores]` with one shuffle partition per core: the two are set
    * together so they cannot disagree. The only place a SparkSession is
    * built — mains call [[getOrCreate]], tests `builder(cores = 4)`.
    */
  def builder(cores: Int = localCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // nanosecond-precision parquet timestamps surface as epoch-nano longs
      // (Spark cannot represent TIMESTAMP(NANOS); the long preserves full
      // precision and ordering). Micro-precision files are unaffected and
      // read as TIMESTAMP[_NTZ]; query-side event-time arithmetic adapts to
      // whichever type arrives (sources/SchemaProbe).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // object-store credentials from GRAFT_* env -> hadoopConfiguration (one
    // shared config for spark.read, streaming checkpoints, and FileOps)
    CloudCredentials.install(s)
    s
  }
}
