package graft.bench

import java.io.IOException
import java.lang.management.ManagementFactory
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, Registry, ScaleUp, Tables}

/** The benchmark's JVM side; `perfbench/run.py` launches it and turns
  * what it writes into metrics. Modes:
  *
  *  - `run <plan> <out>`: one benchmark run. The plan file (written by
  *    run.py) names the input dir, the ops, their per-pass order, the
  *    staging to refresh and the number of warm passes. The run builds
  *    the session (`GraftSession.build` + `tune`), then makes one cold
  *    pass and the warm passes, each refreshing staging then running
  *    every op. The cold pass writes each op's result as parquet (for
  *    the oracle gate); warm passes materialize into the noop sink.
  *  - `scaleup <src> <dst> <copies> <cores>`: write the N× input set
  *    with `ScaleUp.scaleTable`, verifying every row count.
  *  - `plancheck <dir> <out> <cores>`: the materialization check: the
  *    plan a timed action runs for `q1_pricing_summary` against
  *    `count()`.
  */
object PerfBench {

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("run", plan, out) => run(Plan.read(Paths.get(plan)), Paths.get(out))
    case Seq("scaleup", src, dst, copies, cores) => scaleUp(src, dst, copies.toInt, cores.toInt)
    case Seq("plancheck", dir, out, cores) => PlanCheck.run(session(cores.toInt), dir, Paths.get(out))
    case _ => sys.error(s"usage: PerfBench run|scaleup|plancheck ...; got ${args.mkString(" ")}")
  }

  /** The session a user builds: graft's factory, then its tuning. */
  def session(cores: Int): SparkSession =
    GraftSession.tune(GraftSession.build(appName = "graft-perfbench",
      master = s"local[$cores]", shufflePartitions = cores))

  /** Full materialization: every column of every row is produced and
    * dropped by the `noop` sink, so Catalyst cannot prune the work
    * `count()` would skip.
    */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** `staging` is `none`, or `corpus:` / `stream:` and a comma list of
    * artifact or shape names, rebuilt in the engine's order.
    */
  final case class Plan(data: String, ops: Seq[String], orders: Seq[Seq[Int]],
      staging: String, warm: Int, trace: Boolean, cores: Int, resultsDir: String,
      launchedUs: Long)

  object Plan {
    def read(p: Path): Plan = {
      import scala.jdk.CollectionConverters._
      val kv = Files.readAllLines(p).asScala.filter(_.contains("="))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      def one(k: String) = kv.collectFirst { case (`k`, v) => v }
        .getOrElse(sys.error(s"plan misses $k"))
      Plan(one("data"), one("ops").split(",").toSeq,
        kv.collect { case ("order", v) => v.trim.split(" ").toSeq.map(_.toInt) }.toSeq,
        one("staging"), one("warm").toInt, one("trace") == "1", one("cores").toInt,
        one("results"), one("launched_us").toLong)
    }
  }

  /** The staging refresh `spec` names: the family's reset, then the
    * named artifacts' builders in the engine's order.
    */
  def stagingSteps(spark: SparkSession, spec: String, dir: String)
      : (() => Unit, Seq[(String, () => Unit)]) = {
    val (family, names) = spec.span(_ != ':') match { case (f, n) => (f, n.drop(1)) }
    def pick[A](all: Seq[(String, A)]): Seq[(String, A)] = {
      val want = names.split(",").toSet
      require(want.subsetOf(all.map(_._1).toSet), s"unknown staging names in $spec")
      all.filter { case (n, _) => want(n) }
    }
    family match {
      case "none" => (() => (), Nil)
      case "corpus" => (() => graft.ops.Dedup.resetPairStage(),
        pick(graft.ops.BenchStaging.artifacts).map { case (n, build) =>
          n -> (() => { build(spark, dir).count(); () })
        })
      case "stream" => (() => graft.streaming.StreamStage.reset(),
        pick(graft.streaming.BenchStreamStaging.shapes).map { case (n, build) =>
          s"stream_stage_$n" -> (() => { build(spark, dir); () })
        })
    }
  }

  final case class OpRec(name: String, planNs: Long, execNs: Long, error: Option[String])
  final case class PassRec(index: Int, traced: Boolean, wallNs: Long, cpuNs: Long,
      gcMs: Long, ops: Seq[OpRec], pinnedBytes: Long, tmpBytes: Long)

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Bytes under `p`. Spark's cleaner deletes shuffle files while the
    * walk runs, so a file or directory that vanishes is skipped.
    */
  private def dirBytes(p: Path): Long = {
    var total = 0L
    if (Files.exists(p)) Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) total += a.size
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    total
  }

  private def vmHwmKb(): Long =
    try {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
        .getOrElse(0L)
    } catch { case NonFatal(_) => 0L }

  private def firstLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}"

  def run(plan: Plan, out: Path): Unit = {
    val t0 = System.nanoTime()
    val spark = session(plan.cores)
    val buildNs = System.nanoTime() - t0
    val readyUs = java.time.temporal.ChronoUnit.MICROS.between(
      java.time.Instant.EPOCH, java.time.Instant.now())
    val readyMs = readyUs / 1000L
    val sc = spark.sparkContext
    val cpu = new CpuMeter
    sc.addSparkListener(cpu)
    val tracer = if (plan.trace) Some(new Tracer(spark)) else None
    val spans = mutable.ArrayBuffer[Span]()
    def open(parent: Int, kind: String, name: String, pass: Int): Span = {
      val s = Span(spans.size, parent, kind, name, pass, System.currentTimeMillis())
      spans += s
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      s
    }
    def close(s: Span, ns: Long): Unit = {
      s.endMs = System.currentTimeMillis(); s.durNs = ns
      sc.setLocalProperty(Tracer.SpanKey, if (s.parent >= 0) s.parent.toString else null)
    }
    val root = open(-1, "root", "run", -1)
    val sessionSpan = Span(spans.size, root.id, "session", "session", -1,
      readyMs - buildNs / 1000000L, readyMs, buildNs)
    spans += sessionSpan
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val ops = plan.ops.map(Registry.byName)
    val (reset, steps) = stagingSteps(spark, plan.staging, plan.data)

    def onePass(index: Int): PassRec = {
      // warm passes run traced, untraced, untraced, traced (and so on),
      // so the tracing overhead is not confounded with JVM warm-up
      val traced = tracer.isDefined && (index == 0 || Set(0, 3)((index - 1) % 4))
      tracer.foreach(t => if (traced) t.attach() else t.detach())
      val gc0 = gcMs(); val cpu0 = cpu.cpuNs
      val p = open(root.id, "pass", s"pass$index", index)
      val start = System.nanoTime()
      if (steps.nonEmpty) {
        val st = open(p.id, "staging", "staging", index)
        val s0 = System.nanoTime()
        reset()
        steps.foreach { case (name, build) =>
          val a = open(st.id, "artifact", name, index)
          val t0 = System.nanoTime()
          build()
          close(a, System.nanoTime() - t0)
          System.err.println(f"[perfbench] pass $index staging $name ${a.durNs / 1e9}%.3f s")
        }
        close(st, System.nanoTime() - s0)
      }
      val order = plan.orders(index % plan.orders.size)
      val recs = order.map { i =>
        val op = ops(i)
        val r = open(p.id, "run", op.name, index)
        val a0 = System.nanoTime()
        val rec = try {
          val df = op.run(spark, plan.data)
          val a1 = System.nanoTime()
          close(r, a1 - a0)
          val x = open(p.id, "action", op.name, index)
          try {
            // the cold pass persists every result, as a scheduled run
            // does; those files feed the oracle gate
            if (index == 0) df.write.mode("overwrite").parquet(s"${plan.resultsDir}/${op.name}")
            else materialize(df)
            val a2 = System.nanoTime()
            close(x, a2 - a1)
            OpRec(op.name, a1 - a0, a2 - a1, None)
          } catch { case NonFatal(e) =>
            close(x, System.nanoTime() - a1)
            OpRec(op.name, a1 - a0, System.nanoTime() - a1, Some(firstLine(e)))
          }
        } catch { case NonFatal(e) =>
          if (r.endMs < 0) close(r, System.nanoTime() - a0)
          OpRec(op.name, System.nanoTime() - a0, 0L, Some(firstLine(e)))
        }
        System.err.println(f"[perfbench] pass $index ${op.name} plan ${rec.planNs / 1e9}%.3f s " +
          f"action ${rec.execNs / 1e9}%.3f s${rec.error.fold("")(" FAILED: " + _)}")
        rec
      }
      val wall = System.nanoTime() - start
      close(p, wall)
      // outside the timed window: let the bus deliver this pass's task
      // ends before its CPU total is read
      org.apache.spark.GraftBenchBus.drain(sc)
      val pinned = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      PassRec(index, traced, wall, cpu.cpuNs - cpu0, gcMs() - gc0, recs, pinned, dirBytes(tmp))
    }

    val passes = (0 to plan.warm).map(onePass)
    tracer.foreach(_.detach())
    org.apache.spark.GraftBenchBus.drain(sc)
    val traceCounts = tracer.map(_.attribute(spans.filter(s =>
      Set("session", "artifact", "run", "action")(s.kind)).toSeq)).getOrElse(Map.empty)

    val hwmKb = vmHwmKb()
    spark.stop()
    Files.writeString(out, Json.obj(
      "launched_us" -> Json.num(plan.launchedUs),
      "ready_us" -> Json.num(readyUs),
      "build_s" -> Json.num(buildNs / 1e9),
      "peak_rss_mb" -> Json.num(hwmKb / 1024.0),
      "passes" -> Json.arr(passes.map(p => Json.obj(
        "index" -> Json.num(p.index), "traced" -> Json.bool(p.traced),
        "wall_s" -> Json.num(p.wallNs / 1e9), "cpu_s" -> Json.num(p.cpuNs / 1e9),
        "gc_s" -> Json.num(p.gcMs / 1e3),
        "pinned_mb" -> Json.num(p.pinnedBytes / 1048576.0),
        "tmp_mb" -> Json.num(p.tmpBytes / 1048576.0),
        "ops" -> Json.arr(p.ops.map(o => Json.obj(
          "name" -> Json.str(o.name), "plan_s" -> Json.num(o.planNs / 1e9),
          "exec_s" -> Json.num(o.execNs / 1e9),
          "error" -> o.error.map(Json.str).getOrElse("null"))))))),
      "oracle" -> Json.obj(ops.map(op => op.name -> op.oracle.map(Json.str).getOrElse("null")): _*),
      "spans" -> Json.arr(spans.toSeq.map { s =>
        val k = traceCounts.getOrElse(s.id, new Counts)
        Json.obj("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
          "kind" -> Json.str(s.kind), "name" -> Json.str(s.name), "pass" -> Json.num(s.pass),
          "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
          "dur_s" -> Json.num(s.durNs / 1e9),
          "jobs" -> Json.num(k.jobs), "tasks" -> Json.num(k.tasks),
          "cpu_s" -> Json.num(k.cpuNs / 1e9), "task_s" -> Json.num(k.runMs / 1e3),
          "shuffle_write_mb" -> Json.num(k.shuffleWrite / 1048576.0),
          "shuffle_read_mb" -> Json.num(k.shuffleRead / 1048576.0),
          "spill_mb" -> Json.num(k.spill / 1048576.0),
          "input_mb" -> Json.num(k.input / 1048576.0),
          "write_mb" -> Json.num(k.output / 1048576.0),
          "sql_execs" -> Json.num(k.sqlExecs), "exchanges" -> Json.num(k.exchanges),
          "scans" -> Json.num(k.scans), "native_calls" -> Json.num(k.nativeCalls),
          "hof_lambdas" -> Json.num(k.hofLambdas), "batches" -> Json.num(k.batches),
          "input_rows" -> Json.num(k.inputRows), "trigger_s" -> Json.num(k.triggerMs / 1e3),
          "add_batch_s" -> Json.num(k.addBatchMs / 1e3),
          "planning_s" -> Json.num(k.planningMs / 1e3),
          "offsets_s" -> Json.num(k.offsetsMs / 1e3), "wal_s" -> Json.num(k.walMs / 1e3),
          "state_rows" -> Json.num(k.stateRows),
          "state_mb" -> Json.num(k.stateBytes / 1048576.0))
      })) + "\n")
  }

  def scaleUp(src: String, dst: String, copies: Int, cores: Int): Unit = {
    val spark = session(cores)
    Tables.all.foreach { t =>
      val base = spark.read.parquet(s"$src/$t.parquet")
      val scaled =
        if (t == "region" || t == "nation") base
        else (0 until copies).map(k => ScaleUp.scaleTable(base, t, k)).reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      val want = base.count() * (if (t == "region" || t == "nation") 1 else copies)
      val got = spark.read.parquet(s"$dst/$t.parquet").count()
      require(got == want, s"scaled $t has $got rows, expected $want")
      println(s"SCALED $t $got")
    }
    spark.stop()
  }
}

/** Just enough JSON writing for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
  def num(x: Long): String = x.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
