package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Main, SparkEntry}
import graft.queries.{SharedBases, StreamStaging}

/** One op's record. Wall clock in epoch ms (`t0`, `t1`) aligns the op with
  * listener events; `s` is the nanoTime duration the metrics use.
  */
final case class OpRecord(pass: Int, name: String, t0: Long, t1: Long,
                          s: Double, gcMs: Long, ok: Boolean, err: String,
                          result: Seq[Long], extra: Map[String, Double])

/** What a timed body returns: values to check, and sub-timings. */
final case class Out(result: Seq[Long] = Nil,
                     extra: Map[String, Double] = Map.empty)

/** `prep` runs outside the timer, before the op. */
final case class Op(name: String, body: () => Out, prep: () => Unit = () => ())

/** JVM side of the benchmark (see README.md). run.py generates the
  * inputs, starts this with plain `java`, and checks what it leaves in
  * `--out`: `result.json` with every op record and the oracle SQL of
  * every query, and each query execution's output under
  * `outputs/p<pass>/<query>`.
  *
  *   Harness --workload W --seed N --seconds S --trace 0|1 --in DIR
  *           --out DIR --cores C --launched T
  *
  * `--launched` is the epoch time (seconds) at which run.py started this
  * JVM, so the session start it reports includes JVM start-up and class
  * loading, as a CronJob invocation pays them.
  */
object Harness {

  /** Driver-bound queries: many small jobs and eager checkpoints. */
  val driverBound = Seq("q_ndcg", "q_tpch_q5")

  /** The MinHash index: pairs and signatures come from one build, and a
    * consumer reuses both.
    */
  val indexConsumers = Seq("q_minhash_calib")

  /** Stateful drain: a complete-mode aggregation on the RocksDB store,
    * over a staged file source.
    */
  val streamDrains = Seq("q_stream_topk")
  val streamLayouts = Seq("docs8")

  val queryMix: Seq[String] = driverBound ++ indexConsumers ++ streamDrains

  val topK = 10
  val minWarmPasses = 2

  private val born = System.nanoTime()
  private def note(msg: String): Unit =
    System.err.println(f"[harness ${(System.nanoTime() - born) / 1e9}%7.1fs] $msg")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = Paths.get(a("out")).toAbsolutePath
    val cores = a("cores").toInt
    val in = Paths.get(a("in")).toAbsolutePath.toString
    val rng = new scala.util.Random(seed)

    // -- set-up: session start (from JVM launch), then staging
    val s = GraftSession.local("graft-perfbench", cores)
    s.sparkContext.setLogLevel("ERROR")
    val sessionS = epochSeconds() - a("launched").toDouble
    val t1 = System.nanoTime()
    stage(s, workload, in)
    val setup = Map("session_s" -> sessionS,
      "staging_s" -> (System.nanoTime() - t1) / 1e9)
    note("set-up done")
    val work = out.resolve("work")

    val passOps: Int => Seq[Op] = workload match {
      case "autocomplete_cron" =>
        val logs = logFiles(in, "logs")
        // the cold pass is one tick, as one CronJob invocation runs it
        p => (if (p == 0) logs.take(1) else logs).zipWithIndex.map { case (f, h) =>
          val base = work.resolve(s"p$p")
          // every pass starts from the accumulated seed state, untimed
          val seed = () => if (h == 0) Seq("state", "topk").foreach(d =>
            copyTree(Paths.get(in, "seed", d), base.resolve(d)))
          Op(f"tick$h%02d", () => {
            val t0 = System.nanoTime()
            val (st, tk) = Main.runOnce(s, f, base.resolve("state").toString,
              base.resolve("topk").toString, topK)
            Out(Seq(st, tk), Map("run_once_s" -> (System.nanoTime() - t0) / 1e9))
          }, prep = seed)
        }
      case "query_mix" =>
        val order = rng.shuffle(queryMix)
        p => Op("index.minhash", () => {
          SharedBases.minhashPairs(s, in); SharedBases.minhashSigs(s, in); Out()
        }, prep = () => SharedBases.invalidateAll(s)) +: // cold, as a fresh job
          order.map(queryOp(s, in, out.resolve("outputs").resolve(s"p$p"), _))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val checked = if (workload == "query_mix") queryMix else Nil

    // -- timed passes: pass 0 is cold, then warm passes for `seconds`
    val trace = if (traced) Some(new Trace(s)) else None
    trace.foreach(_.attach())
    val records = scala.collection.mutable.ArrayBuffer.empty[OpRecord]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var p = 0
    while (p < 1 + minWarmPasses ||
        passes.drop(1).map(x => num(x("s"))).sum < seconds) {
      if (p > 0) graft.util.Fs.deleteRecursively(work.resolve(s"p${p - 1}"))
      heapPools.foreach(_.resetPeakUsage())
      val recs = passOps(p).map(runOp(s, p, _))
      // a pass's wall time is its ops' time: untimed checks excluded
      val wall = recs.map(_.s).sum
      records ++= recs
      note(f"pass $p: $wall%.2fs of ops")
      val stateRows = recs.filter(_.name.startsWith("tick")).lastOption
        .flatMap(_.result.headOption).getOrElse(0L)
      passes += Map("pass" -> p, "s" -> wall, "state.rows" -> stateRows,
        "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0) ++
        storedFootprint(work.resolve(s"p$p"), in, workload)
      p += 1
    }
    val layers = trace.map { t =>
      t.detach()
      t.unattributed.groupBy(identity).foreach { case (n, xs) =>
        note(s"unattributed jobs: ${xs.size} x $n")
      }
      val warm = if (p > 1) 1 until p else 0 until p
      val perPass = warm.map { q =>
        val recs = records.filter(_.pass == q).toSeq
        val pass = passes(q)
        def sumExtra(pred: String => Boolean) =
          recs.flatMap(_.extra.collect { case (k, v) if pred(k) => v }).sum
        t.layers(recs, cores) ++ Map(
          "queries.index.build_s" ->
            recs.filter(_.name == "index.minhash").map(_.s).sum,
          "main.run_once_s" -> sumExtra(_ == "run_once_s"),
          "queries.build_s" -> sumExtra(_ == "build_s"),
          "queries.exec_s" -> sumExtra(_ == "exec_s"),
          "jvm.driver_gc_s" -> recs.map(_.gcMs).sum / 1000.0,
          "jvm.heap_peak_mb" -> num(pass("heap_peak_mb")),
          "trace.wall_s" -> num(pass("s"))) ++
          Seq("state.rows", "state.bytes", "state.files", "topk.bytes",
            "topk.files", "state.stored_bytes_per_input_byte")
            .map(k => k -> pass.get(k).map(num).getOrElse(0.0))
      }
      perPass.head.keys.map(k => k -> median(perPass.map(_(k)))).toMap
    }

    val oracle = checked.map(q => q -> SparkEntry.oracleSql(q)).toMap
    val lastPass = work.resolve(s"p${p - 1}")

    val result = Map(
      "workload" -> workload, "seed" -> seed, "input" -> in,
      "setup" -> setup, "passes" -> passes.toSeq,
      "ops" -> records.toSeq.map(r => Map("pass" -> r.pass, "name" -> r.name,
        "s" -> r.s, "ok" -> r.ok, "err" -> r.err, "result" -> r.result,
        "extra" -> r.extra)),
      "oracle" -> oracle,
      "final_state" -> lastPass.resolve("state").toString,
      "final_topk" -> lastPass.resolve("topk").toString,
      "rss_peak_mb" -> vmHwmMb(),
      "layers" -> layers.getOrElse(Map.empty))
    Files.writeString(out.resolve("result.json"), Json(result))
    note("result written")
    s.stop()
    note("session stopped")
  }

  /** Set-up staging billed to `setup_s`: the fixture layouts the ops read. */
  private def stage(s: SparkSession, workload: String, in: String): Unit =
    workload match {
      case "query_mix" => streamLayouts.foreach(StreamStaging.dir(s, in, _))
      case _ => ()
    }

  /** A declared query run to a parquet sink: every timed execution
    * leaves its output for the oracle check.
    */
  private def queryOp(s: SparkSession, in: String, outputs: Path,
                      q: String): Op =
    Op(q, () => {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(s, in)
      val t1 = System.nanoTime()
      df.write.mode("overwrite").parquet(outputs.resolve(q).toString)
      val t2 = System.nanoTime()
      Out(extra = Map("build_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9))
    })

  private def runOp(s: SparkSession, pass: Int, op: Op): OpRecord = {
    op.prep()
    val gc0 = gcMs()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (ok, err, out) =
      try (true, "", op.body())
      catch { case e: Throwable => (false, describe(e), Out()) }
    val t1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    val gc1 = gcMs()
    cleanup(s)
    OpRecord(pass, op.name, w0, w1, (t1 - t0) / 1e9, gc1 - gc0, ok, err,
      out.result, out.extra)
  }

  /** Between ops, untimed: drop per-op cached blocks (the shared index
    * bases excepted: they model an index reused across the family) and
    * collect, so one op's garbage does not bill the next.
    */
  private def cleanup(s: SparkSession): Unit = {
    s.catalog.clearCache()
    val keep = SharedBases.retainedRddIds
    s.sparkContext.getPersistentRDDs.values
      .filterNot(r => keep.contains(Integer.valueOf(r.id)))
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def logFiles(in: String, sub: String): Seq[String] =
    Files.list(Paths.get(in, sub)).iterator.asScala.map(_.toString)
      .filter(_.endsWith(".txt")).toSeq.sorted

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator.asScala.toSeq.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }

  private def epochSeconds(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  private def filesUnder(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).toSeq

  /** State and top-K on disk after a pass, against the log bytes merged
    * into them: the seed's history and the pass's ticks.
    */
  private def storedFootprint(base: Path, in: String,
                              workload: String): Map[String, Any] =
    if (workload != "autocomplete_cron") Map.empty
    else {
      val st = filesUnder(base.resolve("state"))
      val tk = filesUnder(base.resolve("topk"))
      val logBytes = (logFiles(in, "history") ++ logFiles(in, "logs"))
        .map(f => Files.size(Paths.get(f))).sum
      val stBytes = st.map(Files.size).sum
      val tkBytes = tk.map(Files.size).sum
      Map("state.bytes" -> stBytes, "state.files" -> st.size,
        "topk.bytes" -> tkBytes, "topk.files" -> tk.size,
        "state.stored_bytes_per_input_byte" ->
          (stBytes + tkBytes).toDouble / math.max(logBytes, 1L))
    }

  private val heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def num(v: Any): Double = v match {
    case n: Number => n.doubleValue
    case _ => 0.0
  }

  private def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.isEmpty) 0.0
    else if (v.size % 2 == 1) v(v.size / 2)
    else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
