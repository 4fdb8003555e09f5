package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names, for fast local
    // iteration on a single operator (the driver always runs all); with
    // a leading "--all-except:" the list EXCLUDES instead (the sf1 gate
    // drops the handful of queries whose oracle side is infeasible at
    // that scale — scripts/verify_sf1.sh)
    val only: Option[Set[String]] = args.lift(2).map {
      case s if s.startsWith("--all-except:") =>
        val excl = s.stripPrefix("--all-except:").split(",").toSet
        SparkEntry.queries.keySet.diff(excl)
      case s => s.split(",").toSet
    }
    val cpus = GraftSession.cpusSetting.getOrElse(4)
    // SPARK_GRAFT_MASTER overrides the in-process master — the
    // local-cluster smoke (scripts/verify_local_cluster.sh) runs the
    // whole registry with REAL executor JVMs, so task serialization and
    // broadcast actually cross a process boundary (local[n] never
    // exercises either; VERDICT r16 item 4). local-cluster workers don't
    // inherit the driver's classpath, so pass it along explicitly.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b0 = GraftSession
      .builder(master = master, shufflePartitions = cpus)
    val spark = (if (master.startsWith("local-cluster"))
      // app classes must ship as a JAR through Spark's own executor
      // classloader — a bare directory on executor.extraClassPath
      // deserializes closures against a different loader and dies with
      // "cannot assign instance of SerializedLambda" (seen on the first
      // local-cluster probe)
      // fallback globs the packaged jar rather than hardcoding the
      // artifact version — a build.sbt version bump must not silently
      // break the local-cluster smoke with a SerializedLambda error
      b0.config("spark.jars",
          sys.env.getOrElse("SPARK_GRAFT_JAR", {
            val dir = java.nio.file.Paths.get("target/scala-2.13")
            val found =
              if (java.nio.file.Files.isDirectory(dir)) {
                import scala.jdk.CollectionConverters._
                java.nio.file.Files.list(dir).iterator().asScala
                  .map(_.toString)
                  .filter(p => p.endsWith(".jar") &&
                    !p.contains("-sources") && !p.contains("-javadoc"))
                  .toSeq.sorted.lastOption
              } else None
            found.getOrElse(sys.error(
              "local-cluster needs the app jar: run `sbt package` or set SPARK_GRAFT_JAR"))
          }))
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "3g"))
    else b0).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      def attempt(): Unit =
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      try attempt()
      catch { case first: Throwable =>
        // one retry: a transient driver-side hiccup (tmp-fixture listing,
        // state-store init) must not zero a query's correctness row
        System.err.println(s"[verify] $name failed once (${first.getMessage}); retrying")
        try attempt()
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // a mid-write failure can leave PARTIAL part files behind, and
          // the compare would then read them as the engine's answer —
          // remove the dir so a failed query reports NO OUTPUT, never
          // partial rows (seen on the r14 extreme-numerics sweep)
          try {
            val d = java.nio.file.Paths.get(s"$outDir/$name")
            if (java.nio.file.Files.isDirectory(d)) {
              import scala.jdk.CollectionConverters._
              java.nio.file.Files.walk(d).sorted(java.util.Comparator.reverseOrder())
                .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
            }
          } catch { case _: Throwable => () }
        }
      }
    }
    // Staged-oracle mode (SPARK_GRAFT_STAGE_DIR): for queries whose full
    // oracle chain is intractable at the target scale (the md5-mode
    // MinHash family at sf10), persist the engine-computed signature
    // intermediate into the stage dir and dump the staged oracle SQL
    // (which reads it) instead of the full one. The per-round driver gate
    // never sets this env — it always runs the full all-DuckDB oracles.
    val stageDir = sys.env.get("SPARK_GRAFT_STAGE_DIR")
      .map(d => { new java.io.File(d).mkdirs(); new java.io.File(d).getAbsolutePath })
    // Queries whose stage write failed must NOT emit staged SQL referencing
    // the missing {STAGE} parquet — compare.py would fail far from the root
    // cause with an opaque read_parquet error. Fall back to the full oracle
    // for those queries (slow but correct), or a sentinel naming the failed
    // stage if no full oracle exists.
    val failedStages = scala.collection.mutable.Set[String]()
    stageDir.foreach { sd =>
      SparkEntry.registry
        .filter(gq => only.forall(_.contains(gq.name)))
        .foreach(gq => gq.staged.foreach { st =>
          try st.write(spark, sfDir, sd)
          catch { case e: Throwable =>
            System.err.println(s"[verify] stage write for ${gq.name} failed: ${e.getMessage}")
            failedStages += gq.name
          }
        })
    }
    val oracleMap: Map[String, String] = SparkEntry.registry.flatMap { gq =>
      val sql = (stageDir, gq.staged) match {
        case (Some(sd), Some(st)) if !failedStages.contains(gq.name) =>
          Some(st.sql.replace("{STAGE}", sd))
        case (Some(_), Some(_)) =>
          gq.oracle.orElse(Some(
            s"SELECT 'graft stage write FAILED for ${gq.name} — see verify stderr' AS stage_error"))
        case _ => gq.oracle
      }
      sql.map(s => gq.name -> s.trim)
    }.toMap
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.write(oracleMap))
    spark.stop()
  }
}
