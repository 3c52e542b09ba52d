package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.node.JsonNodeFactory

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: comma-separated name prefixes. Unset (the
    // driver's invocation) runs everything.
    val only = sys.env.get("GRAFT_VERIFY_ONLY").map(_.split(",").toSeq)
    // Flap hunting: GRAFT_VERIFY_REPEAT=N re-runs each selected query N
    // times in the same JVM, dumping run i>1 to `<name>__r<i>` so a
    // nondeterministic result can be caught by diffing the dumps. The
    // checker ignores the __r dirs (no oracle entry of that name).
    val repeat = sys.env.get("GRAFT_VERIFY_REPEAT").map(_.toInt).getOrElse(1)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      (1 to repeat).foreach { i =>
        val dest = if (i == 1) s"$outDir/$name" else s"$outDir/${name}__r$i"
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(dest)
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** `oracle_sql.json`: query name → DuckDB oracle SQL, one JSON object.
    * Jackson escapes every control char (a raw tab or CR would make the
    * driver's json.load fail and zero the correctness check). */
  private[graft] def oracleJson(sql: Iterable[(String, String)]): String = {
    val o = JsonNodeFactory.instance.objectNode()
    sql.foreach { case (k, v) => o.put(k, v) }
    o.toString
  }
}
