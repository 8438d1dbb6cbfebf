package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Benchmark driver for the `SparkEntry.queries` catalog. One JVM, one
  * driver thread, entries run one after another (closed loop).
  *
  * Arguments are `key=value` pairs:
  *  - `data`      source table directory (one parquet file per table)
  *  - `entries`   comma-separated entry names, in run order
  *  - `warmup`    entry timed once before anything else (part of set-up)
  *  - `cores`     N of `local[N]`; also `spark.sql.shuffle.partitions`
  *  - `passes`    number of timed passes over `entries`
  *  - `check`     directory for the untimed check pass's result dumps
  *  - `cold`      `1`: empty the scratch area before every timed pass
  *  - `trace`     `1`: install the layer tracer for the timed passes
  *  - `warehouse`, `local`  Spark warehouse and local directories
  *  - `launch_ms` epoch ms at which the process was launched
  *  - `out`       result file (JSON); `spans` span file when tracing
  *
  * A timed entry is `fn(spark, data)` followed by a write to Spark's `noop`
  * sink, which materializes every output column and does no I/O. An entry
  * that throws is recorded with its exception class and never timed.
  */
object Driver {
  private final case class Timing(id: Int, name: String, latencyS: Double, constructS: Double,
                                  layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val data = opt("data")
    val entries = opt("entries").split(",").filter(_.nonEmpty).toSeq
    val cores = opt("cores").toInt
    val trace = opt.get("trace").contains("1")
    val cold = opt.get("cold").contains("1")
    val tmp = sys.props("java.io.tmpdir")
    val warehouse = opt("warehouse")
    val catalog = SparkEntry.queries
    val unknown = (entries :+ opt("warmup")).filterNot(catalog.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(", ")}")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", opt("local"))
      // bound the status store's job and query history, so the heap figure
      // reflects the catalog's memory rather than how many jobs a pass ran
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val readyS = (System.currentTimeMillis() - opt("launch_ms").toLong) / 1e3

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val failed = mutable.LinkedHashMap.empty[String, (String, String)]
    def fail(name: String, phase: String, e: Throwable): Unit =
      if (!failed.contains(name)) failed(name) = (e.getClass.getName, phase)

    val warmupS = {
      val t0 = System.nanoTime()
      noop(catalog(opt("warmup"))(spark, data))
      spark.catalog.clearCache()
      (System.nanoTime() - t0) / 1e9
    }

    // Untimed check pass: dump each entry's full result for the oracle
    // comparison; it also builds the scratch memos that warm runs read.
    opt.get("check").foreach { dir =>
      for (name <- entries) {
        try catalog(name)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
        catch { case NonFatal(e) => fail(name, "check", e) }
        spark.catalog.clearCache()
      }
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => entries.contains(k) }
      Files.write(Paths.get(s"$dir/oracle_sql.json"), Json.obj(oracle.map { case (k, v) =>
        k -> Json.str(v) }).getBytes(UTF_8))
    }

    val tracer = if (trace) {
      val t = new Tracer(spark, data, Seq(tmp, warehouse), warehouse)
      t.install()
      Some(t)
    } else None

    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    var heapPeakMb = 0.0
    val passes = mutable.ArrayBuffer.empty[Seq[Timing]]
    val live = entries.filterNot(failed.contains)
    var id = 0
    for (_ <- 1 to opt("passes").toInt if live.nonEmpty) {
      if (cold) clearScratch(spark, tmp, warehouse)
      val pass = live.filterNot(failed.contains).flatMap { name =>
        id += 1
        tracer.foreach(_.begin(id))
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val timing = try {
          val df = catalog(name)(spark, data)
          val t1 = System.nanoTime()
          val constructEndMs = System.currentTimeMillis()
          tracer.foreach(_.executing())
          noop(df)
          val t2 = System.nanoTime()
          val layers = tracer.map(_.finish(startMs, constructEndMs, System.currentTimeMillis(), cores))
            .getOrElse(Map.empty)
          Some(Timing(id, name, (t2 - t0) / 1e9, (t1 - t0) / 1e9, layers))
        } catch {
          case NonFatal(e) =>
            tracer.foreach(t => t.finish(startMs, startMs, startMs, cores))
            fail(name, "timed", e)
            None
        }
        spark.catalog.clearCache()
        timing
      }
      passes += pass
      // a second collection after the context cleaner has had time to drop
      // the blocks of broadcasts the first one found unreachable
      System.gc()
      Thread.sleep(300)
      System.gc()
      heapPeakMb = (heapPeakMb +: oldGen.toSeq.map(p =>
        Option(p.getCollectionUsage).map(_.getUsed / 1048576.0).getOrElse(0.0))).max
    }

    val result = Json.obj(Seq(
      "ready_s" -> Json.num(readyS),
      "warmup_s" -> Json.num(warmupS),
      "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "heap_peak_mb" -> Json.num(heapPeakMb),
      "failed" -> Json.arr(failed.toSeq.map { case (n, (cls, phase)) =>
        Json.obj(Seq("entry" -> Json.str(n), "class" -> Json.str(cls), "phase" -> Json.str(phase)))
      }),
      "passes" -> Json.arr(passes.toSeq.map(p => Json.arr(p.map { t =>
        Json.obj(Seq("id" -> Json.num(t.id), "entry" -> Json.str(t.name), "latency_s" -> Json.num(t.latencyS),
          "construct_s" -> Json.num(t.constructS),
          "layers" -> Json.obj(t.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
      })))))
    tracer.foreach { t =>
      Files.write(Paths.get(opt("spans")), Json.arr(t.spans.map { s =>
        Json.arr(Seq(Json.num(s.entry), Json.str(s.layer), Json.str(s.name),
          Json.num(s.startMs), Json.num(s.endMs)))
      }).getBytes(UTF_8))
    }
    Files.write(Paths.get(opt("out")), result.getBytes(UTF_8))
    spark.stop()
  }

  /** Empty the scratch area: drop catalog tables, delete the warehouse's
    * contents and every scratch relation under the JVM's temp dir. */
  private def clearScratch(spark: SparkSession, tmp: String, warehouse: String): Unit = {
    spark.catalog.clearCache()
    spark.catalog.listTables().collect().foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    for (d <- Seq(new java.io.File(warehouse), new java.io.File(tmp)))
      Option(d.listFiles).foreach(_.filter(f => d.getPath == warehouse || f.getName.startsWith("graft_"))
        .foreach(rm))
  }
}

/** Minimal JSON writer for the result and span files. */
private object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
