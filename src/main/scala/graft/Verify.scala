package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Adversarial-config hook (robustness runs, e.g. broadcast joins
    // disabled): SPARK_GRAFT_CONF="k=v;k=v". Results must be IDENTICAL
    // under any such config — that's the point of checking.
    val spark = MainUtil.applyConfEnv(MainUtil.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LogHygiene.muteAuditedWindowWarning()
    new java.io.File(outDir).mkdirs()

    // Failures must be LOUD and in-band: a thrown query silently shrinks
    // the driver's correctness report (it only sees the queries that
    // wrote parquet), so every error is also recorded in errors.json
    // next to oracle_sql.json where the per-round diff can't miss it.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // Testdata-drift guard: assert the column types the engine is built
    // against. When the driver regenerates testdata with a changed
    // schema, this names the drifted column in one clear error instead
    // of N queries failing analysis individually.
    val expectedTypes = Map(
      "events"     -> Map("event_id" -> "bigint", "ts" -> "timestamp_ntz",
                          "user_id" -> "bigint", "event_type" -> "string",
                          "value" -> "double"),
      "orders"     -> Map("o_orderkey" -> "bigint", "o_orderdate" -> "timestamp_ntz",
                          "o_totalprice" -> "double"),
      "lineitem"   -> Map("l_orderkey" -> "bigint", "l_shipdate" -> "timestamp_ntz",
                          "l_quantity" -> "double", "l_extendedprice" -> "double"),
      "documents"  -> Map("doc_id" -> "bigint", "text" -> "string", "lang" -> "string"),
      "embeddings" -> Map("vec_id" -> "bigint", "embedding" -> "array<float>"))
    expectedTypes.foreach { case (tbl, cols) =>
      try {
        val actual = spark.read.parquet(s"$sfDir/$tbl.parquet").schema
          .map(f => f.name -> f.dataType.simpleString).toMap
        cols.foreach { case (c, want) =>
          actual.get(c) match {
            case None =>
              errors += s"_schema/$tbl.$c" -> s"column missing (expected $want)"
            case Some(got) if got != want =>
              errors += s"_schema/$tbl.$c" -> s"testdata drift: expected $want, got $got"
            case _ => ()
          }
        }
      } catch { case e: Throwable =>
        errors += s"_schema/$tbl" -> s"unreadable: ${e.getMessage}"
      }
    }
    errors.foreach { case (k, v) => System.err.println(s"[verify] SCHEMA DRIFT $k: $v") }

    // Debug filter: SPARK_GRAFT_ONLY="q_a,q_b" runs a subset. The driver
    // never sets it, so the gate always covers every query.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      // Pre-delete the slot: mode("overwrite") replaces output only on
      // SUCCESS, so on a reused outDir a query that fails THIS run
      // would leave the previous run's passing parquet in place — a
      // reader enumerating result dirs would re-validate stale results
      // (which pass, masking the regression) unless it cross-checks
      // errors.json for every present dir.
      MainUtil.deleteRecursively(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors += name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
        // a torn write isn't a result
        MainUtil.deleteRecursively(new java.io.File(s"$outDir/$name"))
      }
    }
    def q(s: String): String = MainUtil.jstr(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written (possibly {}) so "no errors.json" can never be
    // confused with "errors not recorded".
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    println(s"[verify] ${selected.size - errors.count(!_._1.startsWith("_schema"))}" +
      s"/${selected.size} queries ok, ${errors.size} errors -> $outDir/errors.json")
    spark.stop()
  }
}
