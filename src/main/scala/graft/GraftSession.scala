package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: every main and the test suite
  * share the same base, so a result or a timing from one of them is
  * comparable with the others.
  *
  * The base is `local[cpus]` with one shuffle partition per core, the UTC
  * session time zone (date parts and timestamp casts must not follow the
  * host's zone, or the oracle compare drifts), no UI and WARN logging.
  * The explicit `conf` pairs are applied after the base, so they override
  * it.
  */
object GraftSession {
  def create(cpus: Int, conf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cores from SPARK_GRAFT_CPUS, else `default`. */
  def envCpus(default: Int): Int = envPositiveInt("SPARK_GRAFT_CPUS", default)

  /** Env var `name` as a positive integer, else `default` when unset.
    * Read before a session starts, so a bad value costs no start-up. */
  def envPositiveInt(name: String, default: Int): Int =
    sys.env.get(name).fold(default)(parsePositiveInt(name, _))

  /** `value` of env var `name` as a positive integer; anything else
    * (not a number, zero, negative) is refused by name, never clamped. */
  def parsePositiveInt(name: String, value: String): Int =
    value.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$value'"))

  /** The perturbation knob: SPARK_GRAFT_CONF="k=v;k=v" lets a sweep
    * (codegen off, AQE flipped, odd shuffle-partition counts, the RocksDB
    * state store) re-run Verify or Dev without a code edit.
    * The correctness and timing gates never set it, so they are unchanged.
    */
  def envConf(): Seq[(String, String)] =
    parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))

  /** Splits on ';' and each entry on its first '=' (a value may contain
    * '='); empty entries are skipped and an entry with no '=' or an empty
    * key is refused by name, never dropped.
    */
  def parseConf(s: String): Seq[(String, String)] =
    s.split(';').toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not of the form key=value")
      }
    }
}
