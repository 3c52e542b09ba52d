package perfbench

import java.io.{FileInputStream, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor

import graft.{Sessions, SparkEntry}
import graft.functions.{Bloom, EditDist}

/** The benchmark driver process: one session, one client, one query at a
  * time.
  *
  * It reads a request (a properties file written by `perfbench/run.py`),
  * times session set-up, runs one cold pass and then warm passes over the
  * requested queries, and writes a JSON record of every query it ran.
  * Every query is `SparkEntry.queries(name)(spark, dir)` followed by a
  * write to [[FingerprintSink]], so each pass both measures and checks.
  * The launcher does all statistics and the oracle comparison.
  *
  * Request keys: mode (`full` or `setup`), launch_ns (epoch ns at which
  * the launcher started this JVM), cores, sf_dir, queries (comma list of
  * selectors, see `select`),
  * seed, seconds, min_warm, trace (0/1), out, spans, verified (file of
  * `name=fingerprint` lines), dump_dir, oracle_queries (selectors whose
  * oracle SQL is reported too).
  */
object Harness {

  private def epochUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Process-wide counters of two layers, read around every query:
    * Janino compilations and their time (codegen), and Catalyst rule
    * runs and their time (plans; this includes the analysis done while a
    * DataFrame is built, which no action listener sees). */
  final case class Counters(compiles: Long, compileNs: Long, ruleRuns: Long, ruleNs: Long) {
    def -(o: Counters): Counters =
      Counters(compiles - o.compiles, compileNs - o.compileNs, ruleRuns - o.ruleRuns, ruleNs - o.ruleNs)
  }

  private def counters(): Counters = {
    val r = RuleExecutor.getCurrentMetrics()
    Counters(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime,
      r.numRuns, r.time)
  }

  final case class Run(q: String, startUs: Long, builtUs: Long, endUs: Long, cpuNs: Long,
      fp: Option[String], error: Option[String], counters: Counters, heldBytes: Long)

  final case class Pass(index: Int, kind: String, traced: Boolean,
      startUs: Long, endUs: Long, cpuNs: Long, jitNs: Long, refNs: Long, runs: Seq[Run],
      blocksPut: Long)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jitCpuSeen = mutable.HashMap.empty[String, Long]
  private val notJit = mutable.HashSet.empty[String]

  /** CPU time of the JVM's JIT compiler and code sweeper threads so far,
    * from `/proc/self/task/<tid>/schedstat` (ns). The compiler threads
    * are fixed (`-XX:-UseDynamicNumberOfCompilerThreads`), so none ends
    * with time unread. */
  private def jitCpuNs(): Long = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.forEach { t =>
      val tid = t.getFileName.toString
      if (!notJit(tid)) {
        try {
          if (!jitCpuSeen.contains(tid)) {
            val comm = Files.readString(t.resolve("comm")).trim
            if (!comm.matches("C[12] CompilerThre.*|Sweeper thread")) notJit += tid
          }
          if (!notJit(tid))
            jitCpuSeen(tid) = Files.readString(t.resolve("schedstat")).split(' ')(0).toLong
        } catch { case _: java.io.IOException => () } // the thread just ended
      }
    } finally tasks.close()
    jitCpuSeen.valuesIterator.sum
  }

  /** CPU time of this JVM so far that the engine's work costs: every
    * thread (driver, tasks, Spark's pools, GC) but the JIT compiler's.
    * JIT time is left out because it depends on how long the process has
    * run, not on the queries. Unlike wall time, CPU time does not grow
    * while other processes of the host hold the cores. */
  private def engineCpuNs(): Long = osBean.getProcessCpuTime - jitCpuNs()

  /** Host speed probe: the CPU time of a fixed piece of JDK-only work on
    * the calling thread, sorting a copy of 2^20 seeded longs and adding
    * each into a random slot of a 2 MB table. On a shared host the CPU
    * time of the same work drifts by tens of percent over minutes with
    * other tenants' load; the launcher divides the passes' CPU time by
    * this probe, taken between passes, to cancel that drift. The timed
    * rounds allocate nothing, so no GC falls into them; the fastest of
    * three counts, after an untimed round that gets the loop compiled. */
  private object Reference {
    private val threads = ManagementFactory.getThreadMXBean

    def cpuNs(): Long = {
      val src = { val r = new Random(7L); Array.fill(1 << 20)(r.nextLong()) }
      val work = new Array[Long](src.length)
      val table = new Array[Long](1 << 18)
      def round(): Unit = {
        System.arraycopy(src, 0, work, 0, src.length)
        java.util.Arrays.sort(work)
        val mask = table.length - 1
        var i = 0
        while (i < src.length) {
          table((src(i) >>> 40).toInt & mask) += work(i)
          i += 1
        }
      }
      round()
      val best = (1 to 3).map { _ =>
        val t0 = threads.getCurrentThreadCpuTime
        round()
        threads.getCurrentThreadCpuTime - t0
      }.min
      if (table.sum == 42L) println(best) // keeps the rounds' work observable
      best
    }
  }

  def main(args: Array[String]): Unit = {
    val req = new Properties()
    val in = new FileInputStream(args(0))
    try req.load(in) finally in.close()
    def get(k: String): String =
      Option(req.getProperty(k)).getOrElse(sys.error(s"request lacks '$k'"))

    val spark = Sessions.local(get("cores"))
    val readyUs = epochUs()
    val setupS = (readyUs * 1000L - get("launch_ns").toLong) / 1e9
    val result =
      if (get("mode") == "setup") s"""{"setup_s":$setupS}"""
      else full(spark, req, get, setupS)
    Files.writeString(Paths.get(get("out")), result)
    // Halting skips the orderly shutdown: it is not measured, local mode
    // has no other process to stop, and the launcher deletes the run
    // directory.
    Runtime.getRuntime.halt(0)
  }

  private def full(spark: SparkSession, req: Properties, get: String => String,
      setupS: Double): String = {
    val dir = get("sf_dir")
    val registry = SparkEntry.queries
    val names = select(registry.keys.toSeq, get("queries").split(",").toSeq.filter(_.nonEmpty))
    val seed = get("seed").toLong
    val seconds = get("seconds").toDouble
    val minWarm = get("min_warm").toInt
    val traced = get("trace") == "1"

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val sink = classOf[FingerprintSink].getName

    def runOne(pass: Int, q: String, withTrace: Boolean): Run = {
      val c0 = counters()
      val cpu0 = engineCpuNs()
      val t0 = epochUs()
      var built = t0
      val key = s"$pass/$q"
      val res: Either[String, String] =
        try {
          val df = registry(q)(spark, dir)
          built = epochUs()
          df.write.format(sink).mode("overwrite").option("key", key).save()
          FingerprintSink.take(key).toRight("sink committed no fingerprint")
        } catch { case e: Throwable => Left(brief(e)) }
      val t1 = epochUs()
      val cpu = engineCpuNs() - cpu0
      if (built == t0) built = t1
      val c = counters() - c0
      // Block bytes are read after the query, outside its timed span.
      val held = tracer.filter(_ => withTrace).map(_.blockBytesHeld).getOrElse(-1L)
      Run(q, t0, built, t1, cpu, res.toOption, res.left.toOption, c, held)
    }

    val passes = mutable.ArrayBuffer.empty[Pass]
    def pass(kind: String, withTrace: Boolean): Pass = {
      val i = passes.size
      tracer.foreach(t => if (withTrace) t.install() else t.remove())
      // The order inside each warm pass is a seeded permutation: it
      // decides which memo, GC and block state each query inherits. The
      // cold pass runs in name order, so that its cost does not hang on
      // which query happens to pay the fresh driver's first-action costs.
      val order = if (kind == "cold") names else new Random(seed * 1000003L + i).shuffle(names)
      val j0 = jitCpuNs()
      val c0 = engineCpuNs()
      val t0 = epochUs()
      val runs = order.map(runOne(i, _, withTrace))
      val t1 = epochUs()
      val cpu = engineCpuNs() - c0
      val jit = jitCpuNs() - j0
      tracer.foreach(_.drain())
      // Between passes (untimed) let the ContextCleaner reclaim the
      // blocks of checkpoints the pass dropped, as graft.Bench does.
      System.gc()
      val p = Pass(i, kind, withTrace, t0, t1, cpu, jit, Reference.cpuNs(), runs,
        tracer.map(_.blocksPut).getOrElse(0L))
      passes += p
      p
    }

    pass("cold", traced)
    // One untraced settle pass takes the JIT warm-up that still slows the
    // first pass after the cold one; it is recorded but not measured.
    // Then warm passes until `seconds` of warm time is measured and each
    // kind has `minWarm` passes. A traced run measures the tracing
    // overhead in-process: untraced and traced passes interleave
    // (untraced, traced, traced, untraced, ...), so that a drift in speed
    // over the run weighs on both alike.
    pass("settle", withTrace = false)
    val kinds = if (traced) Seq(false, true, true, false) else Seq(false)
    var warmS = 0.0
    var k = 0
    val minPasses = if (traced) 2 * minWarm else minWarm
    while (warmS < seconds || k < minPasses) {
      val p = pass("warm", kinds(k % kinds.size))
      warmS += (p.endUs - p.startUs) / 1e6
      k += 1
    }

    val heapMb = retainedHeapMb()
    val blocksHeld = tracer.map(_.blockBytesHeld).getOrElse(-1L)
    val probe = if (traced) Some(kernelProbe(seed)) else None
    tracer.foreach(_.remove())

    // Oracle check: dump (untimed) every oracle query whose fingerprint
    // is not already known to match its oracle, and fingerprint the dump
    // read back so the launcher can tie the dump to the timed results.
    val verified = loadVerified(req.getProperty("verified"))
    val lastFp = passes.last.runs.map(r => r.q -> r.fp).toMap
    val oracle = SparkEntry.oracleSql
    val dumps = names.filter(oracle.contains).filter { q =>
      lastFp(q).isDefined && !verified.get(q).contains(lastFp(q).get)
    }.map { q =>
      val dest = s"${get("dump_dir")}/$q"
      val key = s"dump/$q"
      val r = try {
        registry(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(dest)
        spark.read.parquet(dest).write.format(sink).mode("overwrite").option("key", key).save()
        FingerprintSink.take(key).toRight("sink committed no fingerprint")
      } catch { case e: Throwable => Left(brief(e)) }
      q -> r
    }

    tracer.foreach { t =>
      val w = new PrintWriter(Files.newBufferedWriter(Paths.get(get("spans"))))
      try t.eventLines().foreach(w.println) finally w.close()
    }

    def runJson(r: Run): String =
      s"""{"q":${Json.str(r.q)},"start_us":${r.startUs},"built_us":${r.builtUs},"end_us":${r.endUs},"cpu_ns":${r.cpuNs},""" +
        s""""fp":${r.fp.map(Json.str).getOrElse("null")},"error":${r.error.map(Json.str).getOrElse("null")},""" +
        s""""compiles":${r.counters.compiles},"compile_ns":${r.counters.compileNs},""" +
        s""""rule_runs":${r.counters.ruleRuns},"rule_ns":${r.counters.ruleNs},"held_bytes":${r.heldBytes}}"""
    val passJson = passes.map { p =>
      s"""{"index":${p.index},"kind":"${p.kind}","traced":${p.traced},"start_us":${p.startUs},"end_us":${p.endUs},""" +
        s""""cpu_ns":${p.cpuNs},"jit_ns":${p.jitNs},"ref_ns":${p.refNs},""" +
        s""""blocks_put":${p.blocksPut},"runs":${p.runs.map(runJson).mkString("[", ",", "]")}}"""
    }
    val dumpJson = dumps.map { case (q, r) =>
      s"""${Json.str(q)}:{"fp":${r.toOption.map(Json.str).getOrElse("null")},"error":${r.left.toOption.map(Json.str).getOrElse("null")}}"""
    }
    // Oracle SQL of this workload and of every query named in
    // `oracle_queries`, so the launcher can prepare all answers at once.
    val wanted = (names ++ select(registry.keys.toSeq,
      req.getProperty("oracle_queries", "").split(",").toSeq.filter(_.nonEmpty))).distinct
    val oracleJson = wanted.flatMap(q => oracle.get(q).map(s => s"${Json.str(q)}:${Json.str(s)}"))
    val probeJson = probe.map { case (edNs, edOps, blNs, blOps, ok) =>
      s"""{"editdist_ns":$edNs,"editdist_ops":$edOps,"bloom_probe_ns":$blNs,"bloom_probe_ops":$blOps,"ok":$ok}"""
    }.getOrElse("null")
    s"""{"setup_s":$setupS,"cores":${get("cores")},"seed":$seed,"sf_dir":${Json.str(dir)},""" +
      s""""retained_heap_mb":$heapMb,"blocks_held_end":$blocksHeld,""" +
      s""""passes":${passJson.mkString("[", ",", "]")},"dumps":${dumpJson.mkString("{", ",", "}")},""" +
      s""""oracle":${oracleJson.mkString("{", ",", "}")},"probe":$probeJson}"""
  }

  /** Registry names picked by prefix, sorted: `h*` selects every
    * `h<digits>_...` query, `d12` the query named `d12_...`. A selector
    * that matches nothing is an error, so a renamed query cannot
    * silently leave its workload. */
  def select(registry: Seq[String], selectors: Seq[String]): Seq[String] =
    selectors.flatMap { s =>
      val tag = (n: String) => n.takeWhile(_ != '_')
      val hit = registry.filter { n =>
        if (s.endsWith("*")) tag(n).matches(java.util.regex.Pattern.quote(s.init) + "\\d+")
        else tag(n) == s
      }
      require(hit.nonEmpty, s"no query matches '$s'")
      hit
    }.distinct.sorted

  private def brief(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"

  private def loadVerified(path: String): Map[String, String] =
    if (path == null || !Files.exists(Paths.get(path))) Map.empty
    else scala.io.Source.fromFile(path).getLines().flatMap { l =>
      l.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
    }.toMap

  /** Driver heap still in use once garbage is collected. Spark's
    * ContextCleaner drops the blocks of collected broadcasts, shuffles
    * and checkpoints from its own thread after a GC, so collections
    * repeat until the heap stops shrinking. */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = collect()
    var now = collect()
    var rounds = 2
    while (now < last - 1.0 && rounds < 15) { last = now; now = collect(); rounds += 1 }
    now
  }

  /** Times the public `EditDist.banded` and `Bloom.mightContain` kernels
    * on seeded inputs. Returns (ns/op, ops) for each and whether the
    * kernels answered correctly on inputs with a known answer. */
  private def kernelProbe(seed: Long): (Double, Long, Double, Long, Boolean) = {
    val rnd = new Random(seed)
    val alphabet = "abcdefghijklmnopqrstuvwxyz ".getBytes("US-ASCII")
    val pairs = Array.fill(2048) {
      val a = Array.fill(32 + rnd.nextInt(96))(alphabet(rnd.nextInt(alphabet.length)))
      val b = a.clone()
      val edits = rnd.nextInt(4)
      (0 until edits).foreach(_ => b(rnd.nextInt(b.length)) = '#'.toByte)
      (a, b, edits)
    }
    val edOk = pairs.forall { case (a, b, e) => val d = EditDist.banded(a, b, 3); d >= 0 && d <= e }
    val keys = Array.fill(1 << 16)(rnd.nextLong())
    val (bits, k) = Bloom.decode(Bloom.buildLocal(keys.iterator, 1 << 20, 7))
    val probes = Array.tabulate(1 << 16)(i => if (i % 2 == 0) keys(i) else rnd.nextLong())
    val blOk = keys.forall(Bloom.mightContain(bits, k, _))

    def timed(minNs: Long)(round: () => Long): (Double, Long) = {
      var ops, ns = 0L
      var sink = 0L
      round() // warm-up round, not timed
      while (ns < minNs) {
        val t0 = System.nanoTime()
        sink += round()
        ns += System.nanoTime() - t0
        ops += 1
      }
      if (sink == Long.MinValue) println(sink)
      (ns.toDouble, ops)
    }
    val (edNs, edRounds) = timed(300000000L) { () =>
      var s = 0L; var i = 0
      while (i < pairs.length) { s += EditDist.banded(pairs(i)._1, pairs(i)._2, 3); i += 1 }
      s
    }
    val (blNs, blRounds) = timed(300000000L) { () =>
      var s = 0L; var i = 0
      while (i < probes.length) { if (Bloom.mightContain(bits, k, probes(i))) s += 1; i += 1 }
      s
    }
    val edOps = edRounds * pairs.length
    val blOps = blRounds * probes.length
    (edNs / edOps, edOps, blNs / blOps, blOps, edOk && blOk)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
