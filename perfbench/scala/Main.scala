package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One benchmark run in one JVM: set up a local[4] session, run the
  * workload's cold pass and then warm passes until `--seconds` have been
  * measured, check what came back, and write a JSON record for run.py.
  *
  *   --workload faces|statements  --faces a,b,c  --tables t,u  --sf DIR  --seed N
  *   --seconds S  --trace 0|1  --t0 EPOCH_MS  --work DIR  --out FILE
  *   [--setup-only 1]
  *
  * Every timed window ends when the result is fully delivered to the
  * driver (a collect), never at a count(). Cleanup between operations
  * (dropping unpinned loop state, a full GC) sits outside the windows,
  * as in graft.Bench.
  */
object Main {
  final case class Op(pass: Int, kind: String, name: String, ms: Double,
      var ok: Boolean, var err: String)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    val tracer = if (a.get("trace").contains("1")) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t.listener)
      spark.streams.addListener(t.streamingListener)
      graft.PlanAudit.hook = (tag, qe) => t.tap(tag, qe)
      Codegen.install()
    }
    val run = new Run(spark, a, work, seed, seconds, tracer)
    val setupS = run.setup()
    val record: Map[String, Any] =
      if (a.contains("setup-only")) Map("setup_s" -> setupS)
      else Map("setup_s" -> setupS) ++ run.measure()
    Json.write(Paths.get(a("out")), record)
    spark.stop()
  }
}

final class Run(spark: SparkSession, a: Map[String, String], work: Path,
    seed: Long, seconds: Double, tracer: Option[Tracer]) {
  import Main.Op
  private val workload = a("workload")
  private val sfDir = a.getOrElse("sf", "")
  val ops = mutable.ArrayBuffer.empty[Op]
  val passWall = mutable.ArrayBuffer.empty[Double]
  /** Span ids of each pass (traced runs), for the per-pass counters. */
  private val passSpans = mutable.ArrayBuffer.empty[Int]
  private val layers = mutable.LinkedHashMap.empty[String, Double]

  private def span[T](kind: String, name: String)(body: => T): T =
    tracer.fold(body)(_.span(kind, name)(body))

  private def cleanup(): Unit = { graft.PinnedRdds.dropUnpinned(spark); System.gc() }

  /** Time `body` as one operation of pass `pass`; a throw marks it failed. */
  private def op[T](pass: Int, kind: String, name: String)(body: => T): Option[T] = {
    val t = System.nanoTime()
    val r = try Right(span(kind, name)(body)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t) / 1e6
    ops += Op(pass, kind, name, ms, r.isRight,
      r.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)).orNull)
    r.toOption
  }

  /** Warm passes until `seconds` have passed since the cold pass ended;
    * at least one.
    */
  private def warmFor(pass: Int => Unit): Unit = {
    val start = System.nanoTime()
    var p = 1
    while (p == 1 || (System.nanoTime() - start) / 1e9 < seconds) { pass(p); p += 1 }
  }

  /** Run pass `p`; its wall time is the sum of its operations' times,
    * so cleanup between operations is not counted.
    */
  private def timedPass[T](p: Int)(body: => T): T = {
    val r = span("pass", if (p == 0) "cold" else s"warm$p")(body)
    tracer.foreach(t => passSpans += t.spans.filter(_.kind == "pass").last.id)
    passWall += ops.filter(_.pass == p).map(_.ms).sum / 1000.0
    r
  }

  private def fail(o: Op, why: String): Unit = if (o.ok) { o.ok = false; o.err = why }

  /** Open the workload's inputs; returns seconds since process start. */
  def setup(): Double = {
    if (workload == "statements") graft.store.CommitLog.open(work.resolve("stmt-0").toString)
    else a("tables").split(",").foreach(n => span("tables.load", n)(graft.Tables.load(spark, sfDir, n)))
    (System.currentTimeMillis() - a("t0").toLong) / 1000.0
  }

  def measure(): Map[String, Any] = {
    val extra = if (workload == "statements") statements() else faces()
    // what the session still holds once the passes are done: the heap
    // after a full GC (on-heap block storage included) plus block-manager
    // bytes on disk
    graft.PinnedRdds.dropUnpinned(spark); System.gc(); System.gc()
    val storage = spark.sparkContext.getRDDStorageInfo
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val base = Map[String, Any](
      "pass_wall_s" -> passWall.toSeq,
      "ops" -> ops.toSeq.map(o => Map("pass" -> o.pass, "kind" -> o.kind, "name" -> o.name,
        "ms" -> o.ms, "ok" -> o.ok, "err" -> o.err)),
      "retained_mb" -> (heap + storage.map(_.diskSize).sum) / 1e6,
      "pinned_mb" -> storage.map(s => s.memSize + s.diskSize).sum / 1e6,
      "pinned_rdds" -> storage.length)
    tracer.foreach { t =>
      passSpans.zipWithIndex.foreach { case (sid, p) => passLayers(t, sid, if (p == 0) "cold" else "warm") }
      layers("queries.pinned_rdds") = storage.length.toDouble
      layers("queries.pinned_mb") = storage.map(s => s.memSize + s.diskSize).sum / 1e6
    }
    base ++ extra ++ tracer.map(t => Map[String, Any](
      "layers" -> layers.toMap,
      "trace_id" -> t.traceId,
      "spans" -> t.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.startMs, "wall_s" -> s.wallS, "trace_id" -> t.traceId,
        "counters" -> s.counters.toMap)))).getOrElse(Map.empty)
  }

  /** Spark counters of one pass, from the spans under its pass span. A
    * warm figure is the mean over the warm passes.
    */
  private def passLayers(t: Tracer, passSpan: Int, tag: String): Unit = {
    val warmN = math.max(1, passSpans.size - 1).toDouble
    val w = if (tag == "cold") 1.0 else 1.0 / warmN
    def put(k: String, v: Double): Unit = layers(s"$k.$tag") = layers.getOrElse(s"$k.$tag", 0.0) + v * w
    val kids = t.spans.filter(_.parent == passSpan).toSeq
    val all = kids.map(_.id).toSet + passSpan
    def sum(k: String): Double = t.spans.filter(s => all(s.id)).map(_.counters.getOrElse(k, 0.0)).sum
    val wall = kids.map(_.wallS).sum
    for (k <- Seq("jobs", "tasks", "task_busy_s", "shuffle_write_mb", "spill_mb", "failed_tasks",
        "input_mb")) put(s"spark.$k", sum(k))
    // gc and codegen are read per span, so count the kids only
    for (k <- Seq("gc_s", "codegen_compiles", "codegen_s"))
      put(s"spark.$k", kids.map(_.counters.getOrElse(k, 0.0)).sum)
    put("spark.core_util", if (wall > 0) sum("task_busy_s") / (wall * 4) else 0.0)
    val gap = kids.map { s =>
      val iv = all.toSeq.flatMap(id => t.taskIntervals.getOrElse(id, Nil))
      math.max(0.0, s.wallS - Tracer.covered(iv, s.startMs, s.endMs) / 1000.0)
    }.sum
    put("spark.driver_gap_s", gap)
  }

  // ------------------------------------------------------------- faces

  private def faces(): Map[String, Any] = {
    val q = graft.SparkEntry.queries
    val order = new scala.util.Random(seed).shuffle(a("faces").split(",").toSeq)
    val cold = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
    val digest = mutable.Map.empty[String, String]
    def pass(p: Int): Unit = {
      val body = () => order.foreach { f =>
        var schema: StructType = null
        val rows = op(p, "face", f) {
          val df = q(f)(spark, sfDir); schema = df.schema; df.collect()
        }
        rows.foreach { r =>
          val d = Digest.of(r)
          if (p == 0) { cold(f) = (schema, r); digest(f) = d }
          else if (digest.get(f).exists(_ != d)) fail(ops.last, "warm result differs from cold result")
        }
        tracer.foreach(t => faceLayers(t, f, p))
        cleanup()
      }
      timedPass(p)(body())
    }
    pass(0)
    warmFor(pass)
    tracer.foreach { t =>
      val byFace = ops.groupBy(_.name)
      order.foreach { f =>
        val cs = byFace(f).filter(_.pass == 0).map(_.ms / 1000.0)
        val ws = byFace(f).filter(_.pass > 0).map(_.ms / 1000.0).sorted
        layers(s"queries.$f.cold_s") = cs.head
        layers(s"queries.$f.warm_s") = ws(ws.size / 2)
      }
      layers("queries.view_build_s") = order.map(f =>
        math.max(0.0, layers(s"queries.$f.cold_s") - layers(s"queries.$f.warm_s"))).sum
      graphStreamingLayers()
    }
    // outside every timed window: cold results to parquet for run.py's
    // oracle compare
    val out = work.resolve("results")
    cold.foreach { case (f, (schema, rows)) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(f).toString)
    }
    Json.write(out.resolve("oracle_sql.json"), graft.SparkEntry.oracleSql.filter(kv => order.contains(kv._1)))
    Map("order" -> order, "results_dir" -> out.toString)
  }

  private val rounds = mutable.ArrayBuffer.empty[(Int, Seq[Double], Seq[Int])]
  private val trig = mutable.ArrayBuffer.empty[(Double, Long)]

  /** Loop rounds and streaming triggers of the face just run, kept from
    * the warm passes only (the cold pass also pays view builds).
    */
  private def faceLayers(t: Tracer, f: String, p: Int): Unit = {
    val ids = t.spans.filter(s => s.kind == "face" && s.name == f).map(_.id).toSet
    val r = t.drainRounds(ids)
    val tr = t.triggers.synchronized {
      val mine = t.triggers.filter(x => ids(x._1)).toSeq; t.triggers --= mine; mine
    }
    if (p > 0) { rounds += r; trig ++= tr.map(x => (x._2, x._3)) }
  }

  private def graphStreamingLayers(): Unit = {
    val warmN = math.max(1, passWall.size - 1).toDouble
    val nRounds = rounds.map(_._1).sum
    layers("graph.loop_rounds") = nRounds / warmN
    layers("graph.round_ms_p50") = Stats.median(rounds.flatMap(_._2).toSeq)
    layers("graph.exchanges_per_round") =
      if (nRounds == 0) 0.0 else rounds.flatMap(_._3).sum.toDouble / nRounds
    layers("streaming.triggers") = trig.size / warmN
    layers("streaming.trigger_ms_p50") = Stats.median(trig.map(_._1).toSeq)
    layers("streaming.rows_per_trigger") =
      if (trig.isEmpty) 0.0 else trig.map(_._2).sum.toDouble / trig.size
  }

  // -------------------------------------------------------- statements

  private def statements(): Map[String, Any] = {
    val (script, want) = Script.generate(seed)
    def pass(p: Int): Unit = {
      val dir = work.resolve(s"stmt-$p").toString
      val it = new graft.lang.Interpreter(spark)
      var log = graft.store.CommitLog.open(dir)
      val body = () => {
        script.zipWithIndex.foreach { case (s, i) =>
          if (s.kind == "compact") op(p, "compact", "compact") { log = it.compact(dir) }
          else op(p, s.kind, s"stmt$i") {
            tracer.foreach(_.span("parse", s"stmt$i")(graft.lang.Parser.parse(s.text)))
            val out = it.executeLogged(s.text, log)
            if (s.kind == "match") {
              val got = out.get.collect().map(Digest.row).sorted.toSeq
              if (got != s.expect) throw new IllegalStateException(
                s"MATCH returned ${got.size} rows, expected ${s.expect.size}")
            }
          }
        }
        if (tracer.isDefined && p == 0) {
          layers("lang.label_plan_nodes") = Script.labels.map { case (l, isNode) =>
            val df = if (isNode) it.nodes(l) else it.edges(l)
            df.queryExecution.logical.collect { case n => n }.size.toDouble
          }.sum
          layers("store.boot_replayed_stmts") = log.entryCount.toDouble
        }
        val booted = new graft.lang.Interpreter(spark)
        op(p, "boot", "boot") {
          booted.bootFrom(dir)
          Script.labels.foreach { case (l, isNode) =>
            (if (isNode) booted.nodes(l) else booted.edges(l)).count() }
        }
        booted
      }
      val booted = timedPass(p)(body())
      // outside the timed window: the live state must hold every
      // acknowledged mutation, and the booted state must equal it
      val live = Script.state(it); val boot = Script.state(booted)
      val mutations = ops.filter(o => o.pass == p && (o.kind.startsWith("insert") || o.kind == "update"))
      val missing = Script.labels.map(_._1).map(l => Script.diff(want(l), live(l))).sum
      mutations.take(missing).foreach(fail(_, "acknowledged mutation absent from the live state"))
      if (boot != live) ops.filter(o => o.pass == p && o.kind == "boot").foreach(fail(_, "booted state differs from live state"))
      cleanup()
    }
    pass(0)
    warmFor(pass)
    tracer.foreach(_ => statementLayers(script))
    Map.empty
  }

  private def statementLayers(script: Seq[Script.Stmt]): Unit = {
    val t = tracer.get
    val warm = ops.filter(_.pass > 0)
    val warmN = math.max(1, passWall.size - 1).toDouble
    def p50(kind: String) = Stats.median(warm.filter(_.kind == kind).map(_.ms).toSeq)
    val edges = warm.filter(_.kind.startsWith("insert_edge")).map(_.ms).toSeq
    val stmtOps = warm.filter(o => o.kind != "boot")
    layers("lang.stmt_per_s") = stmtOps.count(_.kind != "compact") / (stmtOps.map(_.ms).sum / 1000.0)
    layers("lang.insert_node_ms_p50") = p50("insert_node")
    layers("lang.insert_edge_p50_ms") = Stats.median(edges)
    layers("lang.insert_edge_tail_ms") = Stats.tail(edges)._1
    layers("lang.insert_edge_tail_n") = Stats.tail(edges)._2.toDouble
    layers("lang.update_p50_ms") = p50("update")
    layers("lang.match_p50_ms") = p50("match")
    layers("lang.parse_ms_p50") = Stats.median(t.spans.filter(_.kind == "parse").map(_.wallS * 1000).toSeq)
    val edgeSpans = t.spans.filter(s => s.kind.startsWith("insert_edge"))
    layers("lang.insert_edge_jobs") = edgeSpans.map(_.counters.getOrElse("jobs", 0.0)).sum / math.max(1, edgeSpans.size)
    layers("store.compact_s") = warm.filter(_.kind == "compact").map(_.ms / 1000).sum / warmN
    layers("store.boot_s") = p50("boot") / 1000
    layers("store.snapshot_mb") = Files.walk(work.resolve("stmt-0")).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".log"))
      .map(Files.size).sum / 1e6
    // the commit log alone: the session's logged statements appended
    // again (DSYNC) into a scratch log, then replayed with a no-op apply
    val lines = script.filter(s => s.kind != "match" && s.kind != "compact")
      .map(s => graft.lang.Ast.render(graft.lang.Parser.parse(s.text).head))
    val log = graft.store.CommitLog.open(work.resolve("walbench").toString)
    val appendMs = lines.map { l =>
      val t0 = System.nanoTime(); t.span("commitlog.append", "append")(log.append(l)); (System.nanoTime() - t0) / 1e6
    }
    layers("store.wal_append_ms_p50") = Stats.median(appendMs)
    layers("store.wal_bytes_per_stmt") = Files.size(log.path).toDouble / lines.size
    val t0 = System.nanoTime()
    t.span("commitlog.replay", "replay")(log.replay(_ => ()))
    layers("store.replay_read_ms") = (System.nanoTime() - t0) / 1e6
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** The highest percentile with at least ten samples beyond it, and the
    * sample count; the maximum when there are ten samples or fewer.
    */
  def tail(xs: Seq[Double]): (Double, Int) =
    if (xs.isEmpty) (0.0, 0) else { val s = xs.sorted
      (if (s.size > 10) s(s.size - 11) else s.last, s.size) }
}

/** Canonical text of a result: each value as check.py renders it (floats
  * at 6 dp), rows sorted. Equal digests mean equal multisets of rows.
  */
object Digest {
  def value(v: Any): String = v match {
    case d: Double => val s = f"$d%.6f"; if (s == "-0.000000") "0.000000" else s
    case f: Float => value(f.toDouble)
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map(kv => value(kv._1) + ":" + value(kv._2)).sorted.mkString("{", ",", "}")
    case null => "null"
    case other => other.toString
  }
  def row(r: Row): String = r.toSeq.map(value).mkString("|")
  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(row).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def write(p: Path, v: Any): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.writeString(p, render(v))
  }
}
