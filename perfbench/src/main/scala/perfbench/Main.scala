package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's JVM side. One process runs one workload: it sets up
  * once and runs untimed warm-up passes (together `setup_s`, timed from
  * JVM launch), then closed-loop passes (one client, one job at a time)
  * for the requested seconds, checking every pass's outputs outside the
  * timed region. With
  * `--trace 1` it then runs one traced pass on `Cores` cores and one on a
  * single core, and reports per-span statistics.
  * Results go to `<work>/result.json`; `run.py` adds the DuckDB replay
  * check and prints the final record.
  *
  * Usage: Main --workload <load_fresh|load_rewave> --seed <n> --seconds <s>
  *             --trace <0|1> --work <dir> --t0-ms <epoch ms the run started>
  */
object Main {

  // Input sizes (see perfbench/README.md for how they were chosen).
  val BasesPerMbp = 500
  val FreshLines = 3000
  val RewaveLines = 1500
  val RewaveShared = 0.9

  val Cores = 4
  /** Untimed passes before the clock starts. The JIT compiles hardest
    * through the first two passes of a fresh JVM (on the 4-core host
    * 15 s, then 7 s of compiler CPU for a load_fresh pass that settles
    * near 4-5 s). Later passes still get a few percent faster each: over
    * ten seeds, two warm-ups left wall_s twice the spread three did. */
  val WarmupPasses = 3
  val MinIters = 3

  val Spans: Seq[String] = Seq("sources.fasta_genome", "sources.vcf_convert",
    "operators.variant_load", "operators.genic_join", "operators.postprocess",
    "sources.polyphen_export", "sources.jdbc_sink")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, t0Ms: Long)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")).getAbsoluteFile,
      m.get("t0-ms").map(_.toLong).getOrElse(System.currentTimeMillis()))
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the default 100 generated classes are fewer than one pass
      // compiles, so every pass would recompile them all and hand the
      // JIT new code; a warm JVM keeps them
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ------------------------------------------------------------ files

  def delete(f: File): Unit = if (f.exists()) {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def copyTree(from: File, to: File): Unit = {
    delete(to)
    val src = from.toPath
    Files.walk(src).forEach { (p: Path) =>
      val t = to.toPath.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  // ------------------------------------------------------ box context

  @volatile private var probeSink = 0L

  def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  /** A fixed single-thread spin: (wall / thread-CPU time, thread-CPU ms).
    * The ratio is about 1.0 on a quiet box and higher when the VM is
    * descheduled; the CPU time grows when the host's cores get slower. */
  def stretch(): (Double, Double) = {
    val mx = ManagementFactory.getThreadMXBean
    val c0 = mx.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L ^ t0
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    probeSink = x
    val cpu = (mx.getCurrentThreadCpuTime - c0).toDouble
    (if (cpu > 0) (System.nanoTime() - t0) / cpu else -1.0, cpu / 1e6)
  }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of the JIT compiler threads so far, from the kernel's
    * per-thread accounting (`run.py` pins their number, so none exits
    * and takes its count along). Clock ticks are 10 ms (USER_HZ). */
  def jitCpuNs(): Long =
    Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File]).iterator.map { t =>
      try {
        val stat = new String(Files.readAllBytes(new File(t, "stat").toPath), "UTF-8")
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.contains("CompilerThre")) 0L
        else {
          // fields after the command: state ppid ... utime(12th) stime(13th)
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case NonFatal(_) => 0L }
    }.sum

  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  // --------------------------------------------------------- workloads

  /** The outcome of checking one pass: failed check names, extra facts
    * for the record, and the output dirs the replay check reads. */
  final case class Checked(failed: Seq[String], facts: Map[String, Double],
                           outputs: Map[String, String])

  def check(failed: mutable.ArrayBuffer[String], name: String, ok: Boolean): Unit =
    if (!ok) failed += name

  /** `load_fresh` (rewave = false) or `load_rewave`: inputs, the
    * starting state each pass is restored to, and the pass checks. */
  final class LoaderWorkload(o: Opts, rewave: Boolean) {
    val p: Loader.Paths = Loader.Paths(new File(o.work, "data"))
    private var exp1: Inputs.VcfExpect = _
    private var exp2: Inputs.VcfExpect = _
    private def vcf = p.in(if (rewave) "wave2.vcf" else "wave1.vcf")
    private def strains = if (rewave) Inputs.RewaveStrains else Inputs.FreshStrains

    def setup(spark: SparkSession, tr: Tracer): Unit = {
      graft.sources.Jdbc.shutdownEmbeddedDerby(p.derby)
      delete(p.root)
      val g = Inputs.genome(o.seed, BasesPerMbp)
      Inputs.writeFasta(g, new File(p.in("genome.fa")))
      Inputs.writeTranscripts(Inputs.transcripts(o.seed, g),
        new File(p.in("transcripts.tsv")), new File(p.in("exons.tsv")))
      val s1 = Inputs.sites(o.seed, g, FreshLines)
      exp1 = Inputs.writeVcf(o.seed, s1, Inputs.FreshStrains, new File(p.in("wave1.vcf")))
      if (rewave) {
        val s2 = Inputs.rewaveSites(o.seed, g, s1, RewaveLines, RewaveShared)
        exp2 = Inputs.writeVcf(o.seed + 1, s2, Inputs.RewaveStrains, new File(p.in("wave2.vcf")))
      }
      Loader.writeGenes(spark, p)
      tr.span(spark, "sources.fasta_genome", "setup")(Loader.fastaGenome(spark, p))
      Loader.createDerby(p)
      if (rewave) {
        spark.sql(s"DROP TABLE IF EXISTS ${Loader.StoreTable}")
        val seeded = Loader.pass(spark, tr, "seed", p.in("wave1.vcf"),
          Loader.Out(new File(p.root, "seed").getPath), p,
          Inputs.gender(Inputs.FreshStrains), rewave = false, Cores, storeOnly = true)
        val c = seeded.counters()
        require(c.waveKeys == exp1.keys.size && Loader.derbyCount(p) == exp1.keys.size,
          s"seeding loaded ${c.waveKeys} keys, expected ${exp1.keys.size}")
        copyTree(new File(p.store), new File(p.storeSnapshot))
      }
      graft.sources.Jdbc.shutdownEmbeddedDerby(p.derby)
      copyTree(new File(p.derby), new File(p.derbySnapshot))
    }

    def restore(spark: SparkSession): Unit = {
      graft.sources.Jdbc.shutdownEmbeddedDerby(p.derby)
      copyTree(new File(p.derbySnapshot), new File(p.derby))
      spark.sql(s"DROP TABLE IF EXISTS ${Loader.StoreTable}")
      delete(new File(p.store))
      if (rewave) {
        copyTree(new File(p.storeSnapshot), new File(p.store))
        Loader.registerStore(spark, p)
      }
    }

    /** Run one pass; returns a check to run once the clock has stopped. */
    def pass(spark: SparkSession, tr: Tracer, parent: String, out: String): () => Checked = {
      val lo = Loader.Out(out)
      val r = Loader.pass(spark, tr, parent, vcf, lo, p, Inputs.gender(strains), rewave, Cores)
      () => verify(spark, r, lo)
    }

    private def verify(spark: SparkSession, r: Loader.Pass, lo: Loader.Out): Checked = {
      val c = r.counters()
      val e = if (rewave) exp2 else exp1
      val all = if (rewave) exp1.keys ++ exp2.keys else exp1.keys
      val newKeys = if (rewave) (exp2.keys -- exp1.keys).size else exp1.keys.size
      val f = mutable.ArrayBuffer.empty[String]
      check(f, "rows_in", c.rowsIn == e.genotypeRows)
      check(f, "rows_in=hom_ref+missing+called", c.rowsIn == c.homRef + c.missing + c.called)
      check(f, "hom_ref", c.homRef == e.homRef)
      check(f, "missing", c.missing == e.missing)
      check(f, "allele_rows", c.alleleRows == e.alleleRows)
      check(f, "possible_error", c.possibleError == e.possibleError)
      check(f, "allele_rows=cf2_rows+possible_error", c.alleleRows == c.cf2Rows + c.possibleError)
      check(f, "cf2_rows", c.cf2Rows == e.cf2Rows)
      check(f, "wave_keys", c.waveKeys == e.keys.size)
      check(f, "new_keys", c.newKeys == newKeys)
      val st = spark.table(Loader.StoreTable)
        .agg(count(lit(1)), countDistinct(col("rgd_id")), min(col("rgd_id")), max(col("rgd_id")))
        .head()
      check(f, "store_rows=distinct_keys", st.getLong(0) == all.size)
      check(f, "store_ids_dense", st.getLong(1) == all.size && st.getLong(2) == 1L &&
        st.getLong(3) == all.size)
      val nw = spark.read.parquet(lo.wave).filter(col("is_new"))
        .agg(count(lit(1)), countDistinct(col("rgd_id")), min(col("rgd_id")), max(col("rgd_id")))
        .head()
      check(f, "new_ids_from_max+1", nw.getLong(0) == newKeys && nw.getLong(1) == newKeys &&
        nw.getLong(2) == c.maxSeedId + 1 && nw.getLong(3) == c.maxSeedId + newKeys)
      val derbyRows = Loader.derbyCount(p)
      check(f, "derby_rows=store_rows", derbyRows == all.size)
      if (rewave) {
        val staged = Loader.derbyCount(p, "VARIANT_STAGE")
        check(f, "staged=wave_keys", staged == c.waveKeys)
        check(f, "merge_matched+inserted=staged", c.mergeAffected == staged)
        check(f, "merge_inserted=new_keys", derbyRows - exp1.keys.size == c.newKeys)
      }
      Checked(f.toSeq,
        Map("new_key_ratio" -> c.newKeys.toDouble / math.max(1L, c.waveKeys),
          "wave_keys" -> c.waveKeys.toDouble, "new_keys" -> c.newKeys.toDouble,
          "cf2_rows" -> c.cf2Rows.toDouble, "rejects_hom_ref" -> c.homRef.toDouble,
          "rejects_missing" -> c.missing.toDouble,
          "rejects_possible_error" -> c.possibleError.toDouble),
        Map("variant_transcript" -> lo.vt, "polyphen" -> lo.polyphen))
    }
  }

  // ------------------------------------------------------------- run

  final case class Sample(parent: String, wallS: Double, cpuS: Double, jitS: Double, heapMb: Double,
                          loadavg: Double, stretch: (Double, Double), ok: Boolean,
                          checked: Option[Checked], error: Option[String])

  /** One pass with its clock, CPU and heap readings; the check runs
    * after the clock stops. A pass that throws is recorded, not timed. */
  def measured(spark: SparkSession, wl: LoaderWorkload, tr: Tracer, parent: String,
               out: String): Sample = {
    wl.restore(spark)
    val la = loadavg()
    val st = stretch()
    val c0 = processCpuNs()
    val j0 = jitCpuNs()
    val t0 = System.nanoTime()
    try {
      val chk = wl.pass(spark, tr, parent, out)
      val wall = (System.nanoTime() - t0) / 1e9
      // JIT compilation runs on the JVM's own threads while a pass runs
      // (3-5 s of compiler CPU in a warm 4-5 s pass, varying from JVM to
      // JVM); it is reported apart so cpu_s is the CPU the work took
      val jit = (jitCpuNs() - j0) / 1e9
      val cpu = (processCpuNs() - c0) / 1e9 - jit
      val checked = chk()
      Sample(parent, wall, cpu, jit, retainedHeapMb(), la, st, ok = true, Some(checked), None)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $parent FAILED: $e")
        e.printStackTrace()
        Sample(parent, Double.NaN, Double.NaN, Double.NaN, Double.NaN, la, st, ok = false, None,
          Some(String.valueOf(e).take(300)))
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.work.mkdirs()
    val runId = s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}"
    val tr = new Tracer(runId, traced = false)
    val wl = o.workload match {
      case "load_fresh" => new LoaderWorkload(o, rewave = false)
      case "load_rewave" => new LoaderWorkload(o, rewave = true)
      case w => sys.error(s"unknown workload $w")
    }
    val outRoot = new File(o.work, "out")
    delete(outRoot)
    def outDir(n: String) = new File(outRoot, n).getPath

    val spark = session(Cores, o.work)
    val listener = new GroupListener
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    val samples = mutable.ArrayBuffer.empty[Sample]
    try {
      // ---- set-up: JVM launch to the first timed pass, warm-ups included
      wl.setup(spark, tr)
      for (i <- 0 until WarmupPasses)
        samples += measured(spark, wl, tr, s"warmup-$i", outDir(s"warmup-$i"))
      val setupS = (System.currentTimeMillis() - o.t0Ms) / 1000.0
      System.err.println(s"[perfbench] set-up: $setupS s")
      // ---- closed-loop iterations, untraced
      val start = System.nanoTime()
      var k = 0
      while (k < MinIters || (System.nanoTime() - start) / 1e9 < o.seconds) {
        samples += measured(spark, wl, tr, s"iter-$k", outDir(s"iter-$k"))
        k += 1
      }
      val perLayer =
        if (!o.trace) Map.empty[String, Double]
        else traced(spark, wl, tr, listener, o, samples, outDir)
      writeResult(o, tr, setupS, samples.toSeq, perLayer)
    } finally {
      try SparkSession.active.stop() catch { case NonFatal(_) => () }
      writeSpans(o, tr)
    }
    if (tr.failures > 0 || samples.exists(!_.ok)) sys.exit(1)
  }

  /** The traced passes: one on `Cores` cores with the listener attached,
    * one on a single core for the speed-up ratio. Each reruns the genome
    * tables first, so that span is measured in a warm JVM as well. */
  def traced(spark0: SparkSession, wl: LoaderWorkload, tr: Tracer, l4: GroupListener, o: Opts,
             samples: mutable.ArrayBuffer[Sample], outDir: String => String): Map[String, Double] = {
    val untraced = median(samples.filter(s => s.ok && s.parent.startsWith("iter-")).map(_.wallS).toSeq)
    tr.traced = true
    tr.span(spark0, "sources.fasta_genome", "traced")(Loader.fastaGenome(spark0, wl.p))
    val s4 = measured(spark0, wl, tr, "traced", outDir("traced"))
    tr.traced = false
    samples += s4
    org.apache.spark.ListenerBusDrain(spark0.sparkContext)
    l4.countExchanges()
    spark0.stop()
    // single-core pass
    val spark1 = session(1, o.work)
    val l1 = new GroupListener
    spark1.sparkContext.addSparkListener(l1)
    tr.traced = true
    tr.span(spark1, "sources.fasta_genome", "traced-1core")(Loader.fastaGenome(spark1, wl.p))
    val s1 = measured(spark1, wl, tr, "traced-1core", outDir("traced-1core"))
    tr.traced = false
    samples += s1
    org.apache.spark.ListenerBusDrain(spark1.sparkContext)

    def last(name: String, parents: Set[String]) =
      tr.spans.filter(s => s.name == name && parents(s.parent) && s.ok).lastOption
    val m = mutable.LinkedHashMap.empty[String, Double]
    for (name <- Spans) {
      val sp4 = last(name, Set("traced"))
      val sp1 = last(name, Set("traced-1core"))
      val g = l4.groups.get(name)
      val wallMs = sp4.map(s => (s.endNs - s.startNs) / 1e6).getOrElse(0.0)
      def gs(f: GroupStats => Double) = g.map(f).getOrElse(0.0)
      m(s"$name.wall_ms") = wallMs
      m(s"$name.cpu_ms") = gs(_.cpuNs / 1e6)
      m(s"$name.plan_ms") = sp4.map { s =>
        g.filter(_.firstJobStartMs != Long.MaxValue)
          .map(x => (x.firstJobStartMs - s.startMs).toDouble.max(0.0))
          .getOrElse((s.endNs - s.startNs) / 1e6)
      }.getOrElse(0.0)
      m(s"$name.tasks") = gs(_.tasks.toDouble)
      m(s"$name.task_max_ms") = gs(_.taskMaxMs.toDouble)
      m(s"$name.core_util") =
        if (wallMs > 0) gs(_.runMs.toDouble) / (wallMs * Cores) else 0.0
      m(s"$name.shuffle_bytes") = gs(_.shuffleBytes.toDouble)
      m(s"$name.spill_bytes") = gs(_.spillBytes.toDouble)
      m(s"$name.gc_ms") = gs(_.gcMs.toDouble)
      m(s"$name.exchanges") = gs(_.exchanges.toDouble)
      m(s"$name.speedup_1core") = (for (a <- sp4; b <- sp1)
        yield ((b.endNs - b.startNs).toDouble / (a.endNs - a.startNs))).getOrElse(0.0)
    }
    m("operators.variant_load.new_key_ratio") =
      s4.checked.flatMap(_.facts.get("new_key_ratio")).getOrElse(Double.NaN)
    m("trace.overhead_s") = s4.wallS - untraced
    m.toMap
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ----------------------------------------------------------- output

  private def js(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def jn(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  private def jobj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${js(k)}:$v" }.mkString("{", ",", "}")

  def writeResult(o: Opts, tr: Tracer, setupS: Double,
                  samples: Seq[Sample], perLayer: Map[String, Double]): Unit = {
    val ss = samples.map { s =>
      jobj(Seq(
        "parent" -> js(s.parent), "wall_s" -> jn(s.wallS), "cpu_s" -> jn(s.cpuS),
        "jit_s" -> jn(s.jitS),
        "retained_heap_mb" -> jn(s.heapMb), "loadavg" -> jn(s.loadavg),
        "stretch" -> jn(s.stretch._1), "spin_ms" -> jn(s.stretch._2), "ok" -> s.ok.toString,
        "error" -> s.error.map(js).getOrElse("null"),
        "failed_checks" -> s.checked.map(_.failed.map(js).mkString("[", ",", "]")).getOrElse("[]"),
        "facts" -> jobj(s.checked.map(_.facts).getOrElse(Map.empty).map { case (k, v) => k -> jn(v) }),
        "outputs" -> jobj(s.checked.map(_.outputs).getOrElse(Map.empty).map { case (k, v) => k -> js(v) })))
    }
    val body = jobj(Seq(
      "workload" -> js(o.workload), "seed" -> o.seed.toString, "cores" -> Cores.toString,
      "trace" -> o.trace.toString,
      "sizes" -> jobj(Seq("bases_per_mbp" -> BasesPerMbp.toString,
        "fresh_lines" -> FreshLines.toString, "rewave_lines" -> RewaveLines.toString)),
      "setup_s" -> jn(setupS),
      "attempted" -> tr.attempts.toString, "failed" -> tr.failures.toString,
      "samples" -> ss.mkString("[", ",", "]"),
      "per_layer" -> jobj(perLayer.toSeq.sortBy(_._1).map { case (k, v) => k -> jn(v) })))
    Files.write(new File(o.work, "result.json").toPath, body.getBytes("UTF-8"))
  }

  def writeSpans(o: Opts, tr: Tracer): Unit = {
    val lines = tr.spans.map(s => jobj(Seq("name" -> js(s.name), "parent" -> js(s.parent),
      "run" -> js(s.runId), "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
      "ok" -> s.ok.toString)))
    Files.write(new File(o.work, "spans.jsonl").toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
