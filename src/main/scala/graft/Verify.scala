package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private val usage = "usage: Verify <sfDir> <outDir> [query,query,...]"

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3, usage)
    val (sfDir, outDir) = (args(0), args(1))
    // dev-only: an optional 3rd arg restricts the run to a comma-separated
    // query subset (the correctness gate passes exactly 2 args → full run);
    // an unknown name is refused, or oracle_sql.json would shrink with it
    // and the DuckDB compare would pass on fewer queries than asked
    val names = args.lift(2).fold(SparkEntry.queries.keySet)(_.split(",").toSet)
    SparkEntry.requireKnown(names)
    val conf = GraftSession.envConf()
    conf.foreach { case (k, v) => System.err.println(s"[verify] conf $k=$v") }
    val spark = GraftSession.create(GraftSession.envCpus(4), conf)
    // host stamp (stderr, like the per-query failure lines): a Verify
    // sweep that straddled a hypervisor dip is self-documenting
    System.err.println(HostTelemetry.stampLine("verify"))
    new java.io.File(outDir).mkdirs()
    def deleteRecursively(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(deleteRecursively))
      f.delete()
    }
    names.foreach { name =>
      // drop any stale result FIRST: if this query now fails, a leftover
      // parquet from a previous run must not pass the compare as green
      deleteRecursively(new java.io.File(s"$outDir/$name"))
      try SparkEntry.run(spark, name, sfDir)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(HostTelemetry.stampLine("verify"))
    spark.stop()
  }
}
