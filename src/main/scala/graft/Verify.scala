package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // a fixed 4, not GraftSession.cpus: the oracle gate's run must not
    // change with the host it lands on
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for focused dev iteration; the
    // driver runs the full map
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(',').map(_.trim).toSet)
    // optional runtime conf overrides (Bench's SPARK_GRAFT_BENCH_CONF
    // twin) — lets the dev gate prove BOTH sides of a conf-gated road
    // (e.g. spark.graft.localCheckpoint.enabled=false) against the oracle;
    // unset for the driver, whose run stays the defaults
    sys.env.get("SPARK_GRAFT_VERIFY_CONF").foreach(_.split(',').foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k.trim, v.trim)
    })
    // GATE-INTEGRITY TRIPWIRE (round-18 postmortem): all keys share
    // this one session, so a key that mutates session conf poisons
    // every key after it in map order — and the failure surfaces at
    // the WRONG keys. Snapshot the conf before the loop and name the
    // culprit the moment it drifts; the NTZ dump below keeps the gate
    // correct regardless, this is the diagnosis.
    val conf0 = spark.conf.getAll
    // two KNOWN one-way sets are benign and stay whitelisted: the
    // legacy nanosAsLong read pin (idempotent, read-side only) and the
    // q32 catalog warehouse path (read at analysis time by name-based
    // DDL; no writer semantics). Everything else stays loud.
    val benignDrift = Set(
      "spark.sql.legacy.parquet.nanosAsLong", "spark.graft.warehouse")
    def confDrift(name: String): Unit = {
      val now = spark.conf.getAll
      val drift = ((now.toSet diff conf0.toSet) ++
        (conf0.toSet diff now.toSet)).filterNot(kv => benignDrift(kv._1))
      if (drift.nonEmpty)
        System.err.println(
          s"[verify] WARNING: session conf drifted after $name: $drift")
    }
    SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // GATE HYGIENE: dump session-TZ timestamps as timestamp_ntz. The
        // session is UTC, so the cast is value-identical, but the parquet
        // logical type becomes isAdjustedToUTC=false micros regardless of
        // any writer conf — DuckDB reads naive TIMESTAMP, matching the
        // oracle, and the gate is immune to session writer-conf state
        // (the round-18 poisoned-conf regression flipped 17 keys' dumped
        // SCHEMA, not their values).
        import org.apache.spark.sql.types._
        def ntz(dt: DataType): DataType = dt match {
          case TimestampType => TimestampNTZType
          case s: StructType =>
            StructType(s.fields.map(f => f.copy(dataType = ntz(f.dataType))))
          case a: ArrayType => a.copy(elementType = ntz(a.elementType))
          case m: MapType =>
            m.copy(keyType = ntz(m.keyType), valueType = ntz(m.valueType))
          case other => other
        }
        val cols = df.schema.fields.map { f =>
          val t = ntz(f.dataType)
          val c = org.apache.spark.sql.functions.col(f.name)
          (if (t == f.dataType) c else c.cast(t)).as(f.name)
        }
        df.select(cols.toIndexedSeq: _*).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally confDrift(name)
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
