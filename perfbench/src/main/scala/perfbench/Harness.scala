package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{EtlRunner, Main, SparkEntry}
import graft.catalog.{MutableTable, PartitionedTable, SchemaId}
import graft.operators.Compaction

/** The benchmark's driver process: one closed-loop client thread that
  * issues ops back to back on local[cpus]. It sets up the session, prints
  * READY, runs the first --passes passes listed in --plan (one line of
  * comma-separated ops per pass) and writes every op's outcome to --out.
  *
  * An op is one call into a public entry point, timed from the call to the
  * end of its output; everything else (output checks, the forced GC behind
  * the retained-heap figure) happens outside that window. */
object Harness {

  final case class Outcome(ok: Boolean, error: String = null, rows: Long = -1,
      digest: String = null, checksum: Seq[Long] = Nil)

  final case class Args(workload: String, seed: Long, passes: Int,
      trace: Boolean, cpus: Int, data: String, work: String, plan: String,
      out: String, spans: String, deleteRule: (Int, Int))

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def g(k: String, d: String = null) = m.getOrElse(k, Option(d).getOrElse(sys.error(s"missing --$k")))
    val Array(dm, dr) = g("delete-rule", "13:0").split(":").map(_.toInt)
    Args(g("workload", ""), g("seed", "0").toLong, g("passes", "0").toInt,
      g("trace", "0") == "1", g("cpus").toInt, g("data"), g("work"), g("plan", ""),
      g("out", ""), g("spans", ""), (dm, dr))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // the session conf of graft.Bench: noop sink, WindowTopKRewrite, AQE,
    // and the ObjectHashAggregate fallback threshold of 65536
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.experimental.extraOptimizations = Seq(graft.plans.WindowTopKRewrite)
    // set-up ends after one small job has run on every core; the first
    // query's planning and code generation are the cold pass's first touch
    spark.sparkContext.parallelize(1 to a.cpus, a.cpus).count()
    println("READY")
    System.out.flush()
    // --passes 0: a set-up sample only
    if (a.passes == 0) { spark.stop(); return }
    val tracer = if (a.trace) Some(new Tracer(spark, a.cpus)) else None
    val h = new Harness(spark, a, tracer)
    tracer.foreach(_ => h.touchEveryLayer())
    val record = h.runPasses()
    // stopping the context delivers every listener event still queued,
    // so the per-layer figures below see the whole run
    spark.stop()
    h.write(record)
  }
}

final class Harness(spark: SparkSession, a: Harness.Args, tracer: Option[Tracer]) {
  import Harness.Outcome

  private def sp[T](kind: String, name: String, op: Int)(body: => T): T =
    tracer.map(_.span(kind, name, op)(body)).getOrElse(body)

  // ---- output checks: an order-insensitive digest of every output row ----

  /** Doubles are compared at float precision, so the last bits of a sum
    * whose merge order varies between runs do not count as a difference. */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType => c.cast(FloatType)
    case ArrayType(DoubleType, n) => c.cast(ArrayType(FloatType, n))
    case _: MapType => to_json(c)
    case _ => c
  }
  private def positional(df: DataFrame): DataFrame =
    df.toDF(df.columns.indices.map(i => s"c$i"): _*)
  private def digestCols(df: DataFrame): Seq[Column] = {
    val h = if (df.schema.isEmpty) lit(0L)
      else xxhash64(df.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType)): _*)
    Seq(count(lit(1)).as("rows"), sum(h.bitwiseAND(lit(0x7fffffffL))).as("d1"),
      sum(shiftrightunsigned(h, 33)).as("d2"))
  }
  private def digestOf(m: Map[String, Any]): (Long, String) = {
    def l(k: String) = Option(m.getOrElse(k, null)).map(_.toString.toLong).getOrElse(0L)
    (l("rows"), s"${l("rows")}:${l("d1")}:${l("d2")}")
  }

  // ---- ops ----

  private val items = MutableTable(spark, s"${a.work}/ingest/items")
  private val yearly = PartitionedTable(spark, s"${a.work}/ingest/yearly", "l_shipyear")
  private def batch(name: String) = spark.read.parquet(s"${a.work}/ingest/batches/$name.parquet")
  private def dmlBase = spark.read.parquet(s"${a.data}/lineitem.parquet")
    .where(col("l_orderkey") % 10 === 0)
    .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), year(col("l_shipdate")).as("l_shipyear"))
  private def checksum(df: DataFrame): Seq[Long] = {
    val q = col("l_quantity").cast(LongType)
    val r = df.agg(count(lit(1)), sum(col("l_orderkey")), sum(col("l_linenumber").cast(LongType)),
      sum(q), sum(round(col("l_extendedprice") * 100).cast(LongType)),
      sum((col("l_orderkey") * 8 + col("l_linenumber")) * q),
      sum(col("l_shipyear").cast(LongType))).first()
    (0 until r.size).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  /** Run one op; returns its wall seconds and outcome. The timed window
    * covers only the call into the engine; the output check runs after it,
    * in a job group of its own that the tracer leaves out. */
  def runOp(name: String, id: Int): (Double, Outcome) = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val check: () => Outcome = try sp("op", name, id) {
      name.split(":", 2) match {
        case Array("dml", step) =>
          val sums = sp("catalog", name, id) { dml(step) }
          () => Outcome(ok = true, checksum = sums)
        case Array("etl", job) =>
          val out = s"${a.work}/ingest/etl"
          val report = sp("etl", job, id) {
            EtlRunner.run(spark, Main.registry(a.data, out), Seq(job))
          }
          if (report.failed.nonEmpty) sys.error(report.failed.values.mkString("; "))
          () => digestTables(out)
        case _ =>
          val obs = Observation()
          val df = sp("build", name, id) { SparkEntry.queries(name)(spark, a.data) }
          sp("write", name, id) {
            val p = positional(df)
            val cols = digestCols(p)
            p.observe(obs, cols.head, cols.tail: _*)
              .write.mode("overwrite").format("noop").save()
          }
          () => { val (rows, d) = digestOf(obs.get); Outcome(ok = true, rows = rows, digest = d) }
      }
    } catch {
      case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        () => Outcome(ok = false, msg)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    sc.setJobGroup(Tracer.CheckGroup, name, interruptOnCancel = false)
    try (secs, try check() catch { case e: Throwable => Outcome(ok = false, s"check: $e".take(400)) })
    finally sc.clearJobGroup()
  }

  /** Row count and digest of every table an ETL job wrote under `dir`,
    * read back from disk in name order. */
  private def digestTables(dir: String): Outcome = {
    val tables = Files.list(Path.of(dir)).iterator.asScala.map(_.getFileName.toString)
      .toSeq.sorted
    val parts = tables.map { t =>
      val df = positional(spark.read.parquet(s"$dir/$t"))
      val cols = digestCols(df)
      digestOf(df.agg(cols.head, cols.tail: _*).first().getValuesMap[Any](Seq("rows", "d1", "d2")))
    }
    Outcome(ok = true, rows = parts.map(_._1).sum,
      digest = tables.zip(parts).map { case (t, (_, d)) => s"$t=$d" }.mkString(";"))
  }

  /** One step of the seeded DML cycle; the read-back returns the checksums
    * of both tables. */
  private def dml(step: String): Seq[Long] = step match {
    case "create" =>
      items.overwrite(dmlBase); yearly.overwritePartitions(dmlBase); Nil
    case "insert" => items.insertAppend(batch("insert")); Nil
    case "update" =>
      items.updateFrom(batch("update"), Seq("l_orderkey", "l_linenumber"),
        Map("l_quantity" -> "l_quantity")); Nil
    case "delete" =>
      val (m, r) = a.deleteRule
      items.deleteWhere((col("l_orderkey") + col("l_linenumber")) % m === r); Nil
    case "partitions" => yearly.overwritePartitions(batch("partitions")); Nil
    case "compact" => Compaction.compact(spark, items.path); Nil
    case "readback" => checksum(items.read) ++ checksum(yearly.read)
  }

  /** A traced run's first op (op 0): one small call into every layer
    * (table load, query write path, ETL runner, catalog writes, a stateful
    * streaming trigger) on inputs of its own, so every per-layer figure is
    * measured on every workload, including layers its ops leave idle. */
  def touchEveryLayer(): Unit = sp("op", "trace.touch_every_layer", 0) {
    val w = s"${a.work}/warmup"
    val nation = graft.util.Tables.t(spark, a.data, "nation")
    nation.groupBy("n_regionkey").count().write.mode("overwrite").format("noop").save()
    val job = EtlRunner.JobSpec("warmup", Some(Set("warmup")), ctx =>
      ctx.guard.writeTable(spark.range(100).toDF("id"), SchemaId("perfbench", "warmup", "warmup"),
        s"$w/etl", SaveMode.Overwrite))
    sp("etl", "warmup", 0) { EtlRunner.run(spark, Seq(job)) }
    val t = MutableTable(spark, s"$w/table")
    sp("catalog", "warmup", 0) {
      t.overwrite(spark.range(100).toDF("id"))
      t.insertAppend(spark.range(100, 110).toDF("id"))
    }
    t.read.count()
    spark.range(50).toDF("id").write.mode("overwrite").parquet(s"$w/stream_src")
    val q = spark.readStream.schema("id long").parquet(s"$w/stream_src")
      .dropDuplicates("id").writeStream.format("noop")
      .option("checkpointLocation", s"$w/stream_ckpt_${System.nanoTime()}")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Run the passes of --plan; returns the pass and op records. */
  def runPasses(): (Seq[String], Seq[String]) = {
    val plan = Files.readAllLines(Path.of(a.plan)).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.split(",").toSeq)
    val passes = ArrayBuffer.empty[String]
    val ops = ArrayBuffer.empty[String]
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var id = 0
    plan.take(a.passes).zipWithIndex.foreach { case (pass, p) =>
      val t0 = System.nanoTime()
      pass.foreach { name =>
        id += 1
        val (secs, o) = runOp(name, id)
        ops += Json.obj(Seq("pass" -> p.toString, "id" -> id.toString, "op" -> Json.str(name),
          "wall_s" -> Json.num(secs), "ok" -> o.ok.toString, "error" -> Json.str(o.error),
          "rows" -> o.rows.toString, "digest" -> Json.str(o.digest),
          "checksum" -> o.checksum.mkString("[", ",", "]")))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      // outside the timed window: the driver heap still held after a full
      // GC; the second GC follows the blocks and shuffle files the context
      // cleaner released in between
      System.gc()
      Thread.sleep(250)
      System.gc()
      val heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
      passes += Json.obj(Seq("pass" -> p.toString, "wall_s" -> Json.num(wall),
        "heap_mb" -> Json.num(heapMb)))
    }
    (passes.toSeq, ops.toSeq)
  }

  /** Write the run record to --out and, for a traced run, the spans. */
  def write(record: (Seq[String], Seq[String])): Unit = {
    val (passes, ops) = record
    val changed = Seq("insert", "update", "partitions").map(n =>
      s"${a.work}/ingest/batches/$n.parquet").map(Path.of(_))
      .filter(Files.exists(_)).map(Files.size(_)).sum
    val layers = tracer.map(_.metrics(passes.size, changed)).getOrElse(Nil)
    val doc = Json.obj(Seq("workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "cpus" -> a.cpus.toString, "trace" -> tracer.isDefined.toString,
      "passes" -> passes.mkString("[", ",", "]"), "ops" -> ops.mkString("[\n", ",\n", "]"),
      "layers" -> Json.obj(layers.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    Files.writeString(Path.of(a.out), doc)
    tracer.foreach(t => Files.write(Path.of(a.spans), t.spanLines.asJava))
  }
}
