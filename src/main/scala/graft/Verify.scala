package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.fromEnv()
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_ONLY=q86_categorical,q87_...
    // (unset in the driver's gate run → all queries)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Output-type lint: wide decimals (precision > 18, i.e. decimal128
    // storage) are hash-hostile in cross-engine comparators — decimal128
    // canonicalization differs between engines even when the values
    // agree (the r10 q204/q210 failure class). Queries must cast
    // decimal-absorbed aggregates back to DOUBLE/STRING before emitting.
    def lintSchema(name: String, schema: org.apache.spark.sql.types.StructType): Unit = {
      import org.apache.spark.sql.types._
      def wide(dt: DataType): Boolean = dt match {
        case d: DecimalType => d.precision > 18
        case ArrayType(e, _) => wide(e)
        case MapType(k, v, _) => wide(k) || wide(v)
        case s: StructType => s.fields.exists(f => wide(f.dataType))
        case _ => false
      }
      val bad = schema.fields.filter(f => wide(f.dataType)).map(_.name)
      require(bad.isEmpty, s"$name emits gate-hostile DecimalType(p>18) " +
        s"column(s) ${bad.mkString(", ")} — cast to DOUBLE or STRING")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val out = fn(spark, sfDir)
        lintSchema(name, out.schema)
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale/partial output so the driver's compare sees
        // a MISSING query, never a previous run's (or half-written)
        // parquet that happens to hash-match
        import scala.reflect.io.Directory
        new Directory(new java.io.File(s"$outDir/$name")).deleteRecursively()
      }
      // release persisted blocks (Dedup LSH indexes) between queries:
      // drain the registry first, then the catalog catch-all
      graft.api.Df.releaseRetained()
      spark.catalog.clearCache()
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
