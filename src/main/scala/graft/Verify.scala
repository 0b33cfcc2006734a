package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated query-name subset (dev-only fast
    // path; the driver always passes exactly two args → full run). The
    // literal subset `@oracle` runs NO queries and writes the FULL
    // oracle_sql.json — tools/validate_decomposition.py needs only that
    // file, not the dumps.
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [q1,q2,...]")
        sys.exit(2)
        throw new IllegalStateException("unreachable")
    }
    val oracleOnly = only.contains(Set("@oracle"))
    def keep(name: String): Boolean =
      if (oracleOnly) false else only.forall(_.contains(name))
    def keepSql(name: String): Boolean = oracleOnly || keep(name)
    val spark = graft.core.GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Janitor before the pre-flight (r13 verdict stretch item 8): a
    // previously KILLED run's orphaned scratch is exactly what makes the
    // guard below refuse; reclaim recognized stale dirs first.
    graft.core.DiskGuard.sweepStaleScratch()
    // Scratch pre-flight (r12 verdict item 3): refuse a dump whose
    // estimated spill cannot fit, BEFORE hours of compute — the
    // CC-family sf100 attempts died at hour two, twice. Sub-second at
    // gate SF (the pair pre-flight only runs when a pair query is
    // requested); GRAFT_DISK_GUARD=0 bypasses deliberately.
    if (sys.env.getOrElse("GRAFT_DISK_GUARD", "1") != "0") {
      import graft.core.DiskGuard
      val names = SparkEntry.queries.keySet.filter(keep)
      val est = try DiskGuard.estimateBytes(spark, sfDir, names)
                catch { case e: Throwable =>
                  System.err.println(s"[verify] disk estimate failed (${e.getMessage}) — proceeding")
                  0L }
      DiskGuard.shortfall(DiskGuard.usableBytes(outDir), est).foreach { msg =>
        System.err.println(s"[verify] REFUSED: $msg")
        spark.stop()
        sys.exit(3)
      }
    }
    // coalesce(1) keeps the driver's sf0.01 dumps single-file; sf10
    // re-check dumps (214M-row pair frames) set GRAFT_VERIFY_COALESCE=0
    // so the final write isn't serialized through one task.
    val coalesce1 = sys.env.getOrElse("GRAFT_VERIFY_COALESCE", "1") != "0"
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        (if (coalesce1) df.coalesce(1) else df)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape (control chars included): a tab or CR in the
    // SQL would otherwise make the driver's json.load fail.
    def q(s: String): String = "\"" + graft.core.Json.escape(s) + "\""
    val json = SparkEntry.oracleSql.filter(kv => keepSql(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
