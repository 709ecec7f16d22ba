package graft.run

import graft.{Bench, SparkEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.streaming.state.StateStore

import java.nio.file.{Files, Paths}

/** Profiling entry point for the two jobs perfbench does not cover
  * (end-to-end and per-layer timing live in `perfbench/`):
  *
  *   Profile query <names…|all> [--reps N] [--plans DIR]
  *     Times catalogue queries on a noop sink. The first rep is reported
  *     as `cold_s`, the best later rep as `warm_s`. Persisted RDDs and
  *     the StateStore are freed after every rep, so each rep starts from
  *     an empty block manager. `--plans DIR` writes one formatted
  *     physical plan per query to `DIR/<name>.txt`; `--reps 0` captures
  *     plans only. Tables come from `SPARK_GRAFT_SF_DIR` (default sf0.1).
  *
  *   Profile scaling <rows> [N] [4N]
  *     North-rule N -> 4N throughput efficiency of the full-width
  *     multi-res kernel (`Bench.spatialPipelineThroughputMultiRes`). Each
  *     level of each interleaved cycle runs in a fresh child JVM
  *     (`Bench.runSolo`), and the best rate per level is kept: transient
  *     host contention can only understate a level. N and 4N default to
  *     nproc/4 and nproc.
  *
  * Both modes print JSON lines on stdout; only `--plans` writes files.
  */
object Profile {
  val DefaultSfDir = "/root/testdata/sf0.1"
  val ScalingCycles = 3

  /** One query's reps: `secs` in run order, `persisted` = persistent RDDs
    * left after each rep's cleanup (0 when the cleanup works).
    */
  case class QueryRun(name: String, secs: Seq[Double], persisted: Seq[Int],
      ok: Boolean) {
    def coldS: Double = secs.headOption.getOrElse(Double.NaN)
    def warmS: Double = if (secs.size < 2) Double.NaN else secs.tail.min
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "query" :: rest =>
      var reps = 2
      var plansDir: Option[String] = None
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = rest.iterator
      while (it.hasNext) it.next() match {
        case "--reps" => reps = it.next().toInt
        case "--plans" => plansDir = Some(it.next())
        case q => names += q
      }
      val selected =
        if (names.isEmpty || names.contains("all")) SparkEntry.queries.keys.toSeq.sorted
        else names.toSeq
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)
      val cpus = Runtime.getRuntime.availableProcessors
      val spark = Bench.session(cpus.toString)
      spark.sparkContext.setLogLevel("WARN")
      val runs = selected.map { name =>
        val r = query(spark, sfDir, name, reps, plansDir)
        println(s"""{"query":"$name","cold_s":${num(r.coldS)},"warm_s":${num(r.warmS)},""" +
          s""""persisted":${r.persisted.mkString("[", ",", "]")},"ok":${r.ok}}""")
        r
      }
      println(s"""{"profile":"query","sf":"$sfDir","cpus":$cpus,"reps":$reps,""" +
        s""""queries":${runs.size},"ok":${runs.count(_.ok)}}""")
      spark.stop()
    case "scaling" :: rows :: levels if levels.size <= 2 =>
      val cpus = Runtime.getRuntime.availableProcessors
      val n = levels.headOption.map(_.toInt).getOrElse(math.max(1, cpus / 4))
      val n4 = levels.lift(1).map(_.toInt).getOrElse(cpus)
      println(scaling(rows.toLong, n, n4))
    case _ =>
      System.err.println(
        "usage: Profile query <names…|all> [--reps N] [--plans DIR] | Profile scaling <rows> [N] [4N]")
      sys.exit(2)
  }

  /** Runs `reps` timed noop-sink passes of one catalogue query, freeing
    * persisted RDDs and the StateStore after each, and optionally writes
    * its formatted plan to `plansDir/<name>.txt` first.
    */
  def query(spark: SparkSession, sfDir: String, name: String, reps: Int,
      plansDir: Option[String]): QueryRun = {
    val fn = SparkEntry.queries(name)
    def free(): Int = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      StateStore.stop()
      System.gc()
      spark.sparkContext.getPersistentRDDs.size
    }
    spark.sparkContext.setJobDescription(name)
    var ok = true // false once any timed rep fails
    val planLeft = plansDir.toSeq.map { dir =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.createDirectories(Paths.get(dir))
        Files.writeString(Paths.get(dir, s"$name.txt"), plan)
      } catch { case e: Throwable =>
        System.err.println(s"[profile] $name plan failed: ${e.getMessage}")
      }
      free()
    }
    val (secs, persisted) = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        ok = false
        System.err.println(s"[profile] $name failed: ${e.getMessage}")
      }
      val t = (System.nanoTime() - t0) / 1e9
      (t, free())
    }.unzip
    spark.sparkContext.setJobDescription(null)
    QueryRun(name, secs, planLeft ++ persisted, ok)
  }

  /** Interleaved fresh-JVM N and 4N runs of `kernel:multires:<rows>`,
    * bracketed by host probes; returns one JSON line.
    */
  def scaling(rows: Long, n: Int, n4: Int): String = {
    val target = s"kernel:multires:$rows"
    Bench.hostProbe() // untimed: a fresh JVM's first probe read ~2x low
    val before = (Bench.hostProbe(), Bench.diskProbe())
    val best = scala.collection.mutable.Map(n -> 0.0, n4 -> 0.0)
    (1 to ScalingCycles).foreach { _ =>
      Seq(n, n4).foreach { lvl =>
        Bench.runSolo("/unused", lvl.toString, Seq(target)).get(target)
          .foreach(r => best(lvl) = math.max(best(lvl), r))
      }
    }
    val after = (Bench.hostProbe(), Bench.diskProbe())
    val eff =
      if (best(n) > 0 && best(n4) > 0) (best(n4) / best(n)) / (n4.toDouble / n)
      else Double.NaN
    s"""{"profile":"scaling","rows":$rows,"n":$n,"n4":$n4,""" +
      s""""rps_n":${best(n).round},"rps_4n":${best(n4).round},"eff":${num(eff)},""" +
      s""""eff_ok":${eff >= 0.8},"cycles":$ScalingCycles,""" +
      s""""host_probe_mops":[${num(before._1)},${num(after._1)}],""" +
      s""""disk_probe_mbps":[${num(before._2)},${num(after._2)}]}"""
  }

  private def num(d: Double): String = if (d.isNaN) "null" else f"$d%.3f"
}
