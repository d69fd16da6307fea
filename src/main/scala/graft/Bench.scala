package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.operators.Dedup

/** Per-round benchmark (driver contract): one JSON line with per-query
  * seconds at local[32], plus the north-rule scaling evidence — the
  * flagship KG pipeline (transcripts → triples) run at two parallelism
  * pairs on identical input:
  *
  *   - 2 → 8 cores (N vs 4N in the host's linear region),
  *   - 8 → 32 cores (the pair named in the driver brief; on THIS VM a raw
  *     register-only ALU loop scales 8→32 at only ~0.75 — all-core
  *     frequency/bandwidth ceiling — so pipeline efficiency there is
  *     host-bounded, reported alongside that measured ceiling).
  *
  * Each measurement is warm-up + interleaved best-of-N (single-JVM timings
  * on a shared VM spike >5× under host steal; min is the stable
  * estimator), and every scaling block is SELF-CERTIFYING (VERDICT r3
  * item 1): per-rep times are recorded (not just the min), quick ALU +
  * memory-bandwidth probes bracket each block (ctl_pre/ctl_post), and a
  * block whose bracketing probes disagree by > 25% — a host patch opened
  * or closed mid-window — is re-run once with both attempts kept in the
  * JSON. Both the pure-DAG and staged (production-IO) shapes are measured
  * at both core pairs. Since r5 the per-query block is certified the same
  * way (bracketing probes, best-of-2 reps, re-run-once-keep-both), and the
  * staged blocks carry a phase decomposition + noop compute control so the
  * single-disk Amdahl fraction is measured, not narrated. Since r6 the
  * decomposition is WINDOW-PROOF (noop measured per round in the same
  * session as its rep, io_write derived from same-session pairs, negative
  * values clamped + flagged, compute_eff < end-to-end flagged
  * self-inconsistent) and the per-query block carries a fixed Spark canary
  * timed at block start/middle/end so absolute window speed is
  * normalizable from a single artifact. Since r7 the run is EXCLUSIVE and
  * co-tenancy-evidenced (VERDICT r6 next #1/#2: two r6 benches ran
  * concurrently and poisoned the official artifact in a way ratio probes
  * and the non-saturating canary could not see): an exclusive lock file
  * refuses a second concurrent bench outright, and /proc loadavg +
  * co-tenant-JVM samples taken through the run — beside every canary
  * timing included — give the artifact an ABSOLUTE steady-contention
  * signal (`cotenancy.clean`). The staged read-back's measured
  * shuffle-exchange count (0 with the r6 bucketing) also ships in the
  * JSON (`staged_readback_exchanges`).
  */
object Bench {

  // ---- exclusivity + co-tenancy evidence (VERDICT r6 next #1, #2) ----
  // The two r6 post-bucketing bench runs executed CONCURRENTLY on this
  // 32-core box (finished 19s apart after ~41min each): steady 2×
  // oversubscription that the ratio-bracketing probes certified (pre and
  // post were equally slow) and the ~0.2s canary could not see (it never
  // saturates 32 cores). Two mechanical fixes: an exclusive lock file so a
  // second bench REFUSES to start, and absolute host-load evidence
  // (/proc/loadavg + live co-tenant JVM count) sampled through the run so
  // a polluted window self-identifies in the artifact.

  private[graft] val LockPath = Paths.get("bench_runs/.lock")

  /** Process start time (field 22 of /proc/pid/stat, clock ticks since
    * boot) — the disambiguator that makes pid-based liveness exact: a
    * recycled pid has a different start time, so a crashed run's lock
    * never pins the bench on an unrelated process that inherited the pid. */
  private def startTimeOf(pid: Long): Option[String] =
    try {
      val stat = new String(
        Files.readAllBytes(Paths.get(s"/proc/$pid/stat")), "UTF-8")
      // comm (field 2) is parenthesized and may contain spaces: split only
      // what follows the LAST ')' — fields 3.. — where starttime is #22
      Some(stat.substring(stat.lastIndexOf(')') + 2).split(" ")(19))
    } catch { case _: Throwable => None }

  /** Acquire the exclusive run lock, replacing it only when its recorded
    * holder is dead (a crashed run's leftover). Returns
    * (acquired, staleRemoved).
    *
    * Race-free by construction: the only atomic primitives used are
    * O_EXCL create and POSIX rename. A stale lock is CLAIMED by renaming
    * it aside to a per-pid name — of N contenders racing over the same
    * dead lock, exactly one rename succeeds (delete-then-recreate, the
    * r7-review TOCTOU, would let two contenders both "acquire") — and only
    * the claimant proceeds to create; losers refuse, conservatively.
    * Liveness = /proc/<pid> exists AND its start time matches the one
    * recorded at acquire (a pid-only legacy lock falls back to existence). */
  private[graft] def acquireLock(): (Boolean, Boolean) = {
    Files.createDirectories(Paths.get("bench_runs"))
    val self = ProcessHandle.current().pid()
    val token = s"$self ${startTimeOf(self).getOrElse("?")}"
    def tryCreate(): Boolean =
      try {
        Files.write(LockPath, token.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    def holderLive(): Boolean = {
      val toks =
        try new String(Files.readAllBytes(LockPath), "UTF-8").trim
          .split("\\s+")
        catch { case _: Throwable => Array.empty[String] }
      val pid = toks.headOption
        .flatMap(t => scala.util.Try(t.toLong).toOption).getOrElse(-1L)
      if (pid <= 0 || !Files.exists(Paths.get(s"/proc/$pid"))) false
      else toks.lift(1) match {
        case Some(st) if st != "?" => startTimeOf(pid).contains(st)
        case _ => true // legacy pid-only lock: existence is the best we have
      }
    }
    if (tryCreate()) (true, false)
    else if (holderLive()) (false, false) // live holder — refuse
    else {
      val aside = LockPath.resolveSibling(s".lock.stale.$self")
      val claimed =
        try { Files.move(LockPath, aside); true }
        catch { case _: Throwable => false } // another contender claimed it
      if (!claimed) (false, true)
      else {
        Files.deleteIfExists(aside)
        (tryCreate(), true)
      }
    }
  }

  /** One host-load sample: 1/5-min loadavg plus the number of OTHER live
    * java processes — self and its process ancestors (the sbt launcher
    * when run via `sbt runMain`) excluded, so the count is exactly the
    * co-tenants that compete for cores. */
  final case class LoadSample(tag: String, load1: Double, load5: Double,
      otherJava: Int) {
    def json: String = f"""{"tag":"$tag","load1":$load1%.2f,""" +
      f""""load5":$load5%.2f,"other_java":$otherJava}"""
  }

  private def ancestorPids(): Set[Long] = {
    val acc = scala.collection.mutable.Set[Long]()
    var cur: java.util.Optional[ProcessHandle] =
      java.util.Optional.of(ProcessHandle.current())
    while (cur.isPresent) { acc += cur.get.pid(); cur = cur.get.parent() }
    acc.toSet
  }

  private[graft] def loadSample(tag: String): LoadSample = {
    val (l1, l5) =
      try {
        val s = new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
          "UTF-8").split("\\s+")
        (s(0).toDouble, s(1).toDouble)
      } catch { case _: Throwable => (-1.0, -1.0) }
    val excl = ancestorPids()
    var n = 0
    try {
      val st = Files.list(Paths.get("/proc"))
      try {
        val it = st.iterator()
        while (it.hasNext) {
          val d = it.next()
          val name = d.getFileName.toString
          if (name.forall(_.isDigit) && !excl.contains(name.toLong))
            try {
              if (new String(Files.readAllBytes(d.resolve("comm")),
                  "UTF-8").trim == "java") n += 1
            } catch { case _: Throwable => } // process exited mid-scan
        }
      } finally st.close()
    } catch { case _: Throwable => n = -1 }
    LoadSample(tag, l1, l5, n)
  }

  /** The clean-window rule for STEADY contention (what probe ratios can't
    * see): no co-tenant JVM in any sample, and 1-min load never far above
    * the 32 cores this JVM can itself occupy (local[32] + GC/probe threads
    * read ~32-38 when alone; a concurrent bench adds ~+32). Replaying the
    * r6 double-run scenario trips BOTH clauses: other_java >= 1 for the
    * whole overlap and load1 ~64. */
  private val MaxCleanLoad1 = 44.0
  private[graft] def cotenancyClean(samples: Seq[LoadSample]): Boolean =
    samples.forall(s => s.otherJava == 0 && s.load1 <= MaxCleanLoad1)

  /** (triples counted, seconds) for one full KG pipeline run at `mult`×
    * the sf corpus — the job must run long enough at the LOW core count
    * that parallel work, not fixed per-query overhead, dominates.
    *
    * `staged=false` (the headline scaling shape) runs the pure compute DAG
    * ([[Pipeline.triples]]); `staged=true` adds the stage-table write/read
    * ([[Pipeline.triplesStaged]]). The staged shape is what production runs,
    * but on THIS single box its parquet commit is a ~4s core-count-
    * independent serial fraction (driver-side file commit + single local
    * disk) that Amdahl-caps local efficiency — measured 0.66 staged vs 0.80
    * pure at 2→8 on identical input. A real cluster's IO bandwidth scales
    * with executors, so the pure-DAG pair is the honest N-vs-4N proxy;
    * the staged pair is reported alongside for transparency. */
  private def kgRun(spark: SparkSession, sfDir: String, mult: Int,
      staged: Boolean = false): (Long, Double, Seq[Double]) = {
    val base = SparkEntry.cfgOf(sfDir)
    val cfg = base.copy(nConvs = base.nConvs * mult)
    val t0 = System.nanoTime()
    def mark(prev: Long): (Long, Double) = {
      val now = System.nanoTime(); (now, (now - prev) / 1e9)
    }
    val (n, phases) =
      if (!staged) (Pipeline.triples(spark, cfg).count(), Seq.empty[Double])
      else {
        // staged shape decomposed into its three phases (VERDICT r4
        // missing #2 — the Amdahl claim must be arithmetic, not narrative):
        //   w1 = extraction compute + the dominant parquet write,
        //   w2 = read linked + per-turn agg + small write,
        //   c  = read turn_agg + triple branches + count.
        // The per-side noop control (measured once per block side in
        // [[interleaved]]) is w1's DAG with zero bytes written, so
        // w1 − noop is the MEASURED disk-write seconds at that core count.
        val dir = java.nio.file.Files.createTempDirectory("graft_bench_stage")
        try {
          Pipeline.writeLinkedStage(spark, cfg, dir.toString)
          val (m1, w1) = mark(t0)
          Pipeline.writeTurnAggStage(spark, cfg, dir.toString)
          val (m2, w2) = mark(m1)
          val nn = Pipeline.triplesFromStage(spark, cfg, dir.toString).count()
          val (_, c) = mark(m2)
          (nn, Seq(w1, w2, c))
        } finally {
          // drop the temp stage's catalog entries (ADVICE r6: external
          // tables over deleted temp dirs otherwise accumulate per rep)
          Pipeline.dropStageTables(spark, dir.toString)
          org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
        }
      }
    // staged sec = the sum of the measured phases (the marks stop at the
    // final count) so the finally's stage-dir deletion is NOT in the
    // timed window — the pre-r5 protocol's boundary, preserved
    val sec =
      if (phases.nonEmpty) phases.sum else (System.nanoTime() - t0) / 1e9
    // drop this run's persisted intermediates so repeats don't accumulate
    Sessions.sweep(spark)
    (n, sec, phases)
  }

  /** Links the scaling corpus's gazetteer twice in `spark`, so that
    * [[operators.Linking]] keeps its lookup tables (it builds them on a
    * gazetteer's second `link`) before a staged round's first noop. The
    * warm-up noop, the kept noop and w1 then all join the kept tables, and
    * w1 − noop prices the write alone, not the tables' build. */
  private def keepLookupTables(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val base = SparkEntry.cfgOf(sfDir)
    val (t, gaz, gazDf) = Pipeline.synthetic(spark, base.copy(nConvs = base.nConvs * mult))
    Pipeline.linked(t, gaz, gazDf)
    Pipeline.linked(t, gaz, gazDf)
  }

  /** Compute-only control of the staged shape's dominant phase: the same
    * extraction+linking DAG driven into the `noop` sink. */
  private def noopRun(spark: SparkSession, sfDir: String, mult: Int): Double = {
    val base = SparkEntry.cfgOf(sfDir)
    val t0 = System.nanoTime()
    Pipeline.linkedStageNoop(spark, base.copy(nConvs = base.nConvs * mult))
    (System.nanoTime() - t0) / 1e9
  }

  /** One measured side of a scaling block: per-rep seconds, per-rep staged
    * phase decompositions (empty for the pure shape), and the side's
    * compute-only noop controls — ONE PER ROUND, each measured in the same
    * session as that round's rep (staged blocks only). r5's protocol
    * measured the noop once, in round 1's session, then subtracted it from
    * a best-rep possibly taken in a different window — the official r5
    * artifact shipped io_write_sec_hi = -8.182 (negative IO) and a
    * compute_eff below the end-to-end efficiency it was meant to explain
    * (VERDICT r5 wrong #1). Pairing per round keeps every w1 − noop
    * subtraction inside one session's window. */
  private final case class Side(reps: Seq[Double], phases: Seq[Seq[Double]],
      noops: Seq[Double]) {
    def best: Double = reps.min
    def bestNoop: Option[Double] = if (noops.isEmpty) None else Some(noops.min)
    /** Same-session io_write estimates: round i's write phase minus round
      * i's noop — never a cross-window subtraction. */
    def ioWriteReps: Seq[Double] =
      phases.map(_.head).zip(noops).map { case (w1, n) => w1 - n }
  }

  /** Host interference on this shared VM arrives in multi-minute windows
    * (measured: a whole session 3-5× slow), so lo/hi measurements are
    * INTERLEAVED across `rounds` alternating sessions and the per-side min
    * taken — a slow window then hits both sides instead of biasing one.
    * JIT/codegen/automaton caches are JVM-wide, so one global warm-up
    * covers all later sessions. Returns every rep's time, not just the min
    * (VERDICT r3 item 1a: the artifact must be able to show "both reps
    * degraded", not just the survivor). */
  private def interleaved(sfDir: String, loCores: Int, hiCores: Int,
      mult: Int, rounds: Int, staged: Boolean = false): (Long, Side, Side) = {
    var n = 0L
    var lo = Side(Nil, Nil, Nil)
    var hi = Side(Nil, Nil, Nil)
    (1 to rounds).foreach { round =>
      val sLo = Sessions.local(loCores)
      // the noop control runs once per ROUND per side, in the SAME session
      // as that round's rep (VERDICT r5 next #1: a single round-1 noop
      // subtracted from a best-rep in a different window shipped negative
      // io_write in the official r5 artifact). EVERY round runs a
      // discarded warm-up noop first (ADVICE r6: r6 warmed only round 1,
      // so later rounds' kept noop absorbed that fresh session's cold
      // start — biasing io_write = w1 − cold(noop) low — while doubling as
      // a free warm-up for the timed rep that r5's protocol didn't have;
      // warming every round makes all rounds' noops AND reps equally warm.
      // Protocol change documented in BASELINE.md for r6→r7 staged
      // comparability).
      if (staged) {
        keepLookupTables(sLo, sfDir, mult)
        noopRun(sLo, sfDir, mult) // warm-up, discarded
        lo = lo.copy(noops = lo.noops :+ noopRun(sLo, sfDir, mult))
      }
      val (nn, tLo, phLo) = kgRun(sLo, sfDir, mult, staged)
      sLo.stop()
      val sHi = Sessions.local(hiCores)
      if (staged) {
        keepLookupTables(sHi, sfDir, mult)
        noopRun(sHi, sfDir, mult) // warm-up, discarded
        hi = hi.copy(noops = hi.noops :+ noopRun(sHi, sfDir, mult))
      }
      val (_, tHi, phHi) = kgRun(sHi, sfDir, mult, staged)
      sHi.stop()
      n = nn
      lo = lo.copy(reps = lo.reps :+ tLo, phases = lo.phases ++ Seq(phLo).filter(_.nonEmpty))
      hi = hi.copy(reps = hi.reps :+ tHi, phases = hi.phases ++ Seq(phHi).filter(_.nonEmpty))
    }
    (n, lo, hi)
  }

  /** One host-ceiling probe (quick form of the two full controls below):
    * ALU ops/s and memory bandwidth at both sides of the 8→32 pair. Run
    * immediately BEFORE and AFTER every scaling block so each block's
    * artifact carries the ceiling of ITS OWN window (VERDICT r3 item 1b —
    * the r3 controls ran once, after all blocks, and could not certify the
    * window that actually hit the reps). ~4s per probe. */
  private final case class Probe(alu8: Double, alu32: Double,
      bw8: Double, bw32: Double) {
    def aluEff: Double = alu32 / (4.0 * alu8)
    def bwEff: Double = bw32 / (4.0 * bw8)
    def json: String =
      f"""{"alu_ops_per_sec_8":$alu8%.0f,"alu_ops_per_sec_32":$alu32%.0f,""" +
        f""""alu_eff_8_32":$aluEff%.3f,""" +
        f""""mem_gb_per_sec_8":${bw8 / 1e9}%.1f,"mem_gb_per_sec_32":${bw32 / 1e9}%.1f,""" +
        f""""mem_bw_eff_8_32":$bwEff%.3f}"""
    /** Max relative disagreement of the absolute 32-thread throughputs —
      * the steal-sensitive side of the pair. */
    def disagreement(o: Probe): Double = {
      def rel(a: Double, b: Double) = math.abs(a - b) / math.max(a, b)
      math.max(rel(alu32, o.alu32), math.max(rel(bw32, o.bw32),
        math.max(rel(alu8, o.alu8), rel(bw8, o.bw8))))
    }
  }

  /** Each probe measurement is best-of-2 (max throughput): host steal only
    * ever SLOWS a measurement, so the max is the stable estimator — the
    * r4-run-1 protocol took single shots and the short 8-thread probes
    * were noisy enough (±2×) to flag every block degraded and double the
    * bench's wall time with spurious re-runs. */
  private def probe(): Probe = {
    def best(f: => Double): Double = {
      val first = f
      val second = f
      math.max(first, second)
    }
    Probe(best(aluOpsPerSec(8, 100000000L)), best(aluOpsPerSec(32, 100000000L)),
      best(memBwBytesPerSec(8, 2)), best(memBwBytesPerSec(32, 2)))
  }

  /** One measured attempt of a scaling block: probe → interleaved reps →
    * probe. `certified` = the bracketing probes agree within 25% on every
    * absolute throughput, i.e. no host patch opened or closed mid-block. */
  private final case class Attempt(n: Long, lo: Side, hi: Side,
      pre: Probe, post: Probe) {
    def secLo: Double = lo.best
    def secHi: Double = hi.best
    def disagreement: Double = pre.disagreement(post)
    def certified: Boolean = disagreement <= 0.25
    def json(loCores: Int, hiCores: Int): String = {
      val thrLo = n / secLo
      val thrHi = n / secHi
      val eff = thrHi / ((hiCores.toDouble / loCores) * thrLo)
      def arr(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
      // staged-shape decomposition (VERDICT r4 missing #2, window-proofed
      // per VERDICT r5 next #1): per-rep phase triples [w1, w2, consume],
      // per-ROUND noop compute controls measured in the same session as
      // their rep, and io_write derived from SAME-SESSION pairs
      // (io_write_reps = [w1_i − noop_i]) — the arithmetic form of the
      // single-disk Amdahl claim (a ~core-count-independent io_write
      // against a noop that scales like the pure DAG). The headline
      // io_write_sec is the min paired diff, clamped at 0 with an explicit
      // flag (negative disk seconds are measurement noise, never physics),
      // and a compute_eff BELOW the end-to-end efficiency it is supposed
      // to lower-bound is flagged self-inconsistent instead of shipping
      // silently (official r5: compute_eff 0.268 under an end-to-end
      // 0.381, io_write_sec_hi -8.182).
      val staged = (lo.bestNoop, hi.bestNoop) match {
        case (Some(nLo), Some(nHi)) if lo.phases.nonEmpty && hi.phases.nonEmpty =>
          def ioJson(side: Side, tag: String): String = {
            val reps = side.ioWriteReps
            val clamped = reps.min < 0
            f""","io_write_reps_$tag":${arr(reps)}""" +
              f""","io_write_sec_$tag":${math.max(0.0, reps.min)}%.3f""" +
              (if (clamped) s""","io_write_clamped_$tag":true""" else "")
          }
          // (noop-lo / noop-hi) / core-ratio — the triple count cancels
          // out of the noop control's efficiency (the noop writes nothing)
          val noopEff = (nLo / nHi) / (hiCores.toDouble / loCores)
          s""","phases_lo":${lo.phases.map(arr).mkString("[", ",", "]")}""" +
            s""","phases_hi":${hi.phases.map(arr).mkString("[", ",", "]")}""" +
            s""","ctl_noop_reps_lo":${arr(lo.noops)}""" +
            s""","ctl_noop_reps_hi":${arr(hi.noops)}""" +
            f""","ctl_noop_sec_lo":$nLo%.3f,"ctl_noop_sec_hi":$nHi%.3f""" +
            ioJson(lo, "lo") + ioJson(hi, "hi") +
            f""","compute_eff":$noopEff%.3f""" +
            (if (noopEff < eff) s""","decomp_inconsistent":true""" else "")
        case _ => ""
      }
      f"""{"cores_lo":$loCores,"cores_hi":$hiCores,"triples":$n,""" +
        f""""sec_lo":$secLo%.3f,"sec_hi":$secHi%.3f,""" +
        s""""sec_lo_reps":${arr(lo.reps)},"sec_hi_reps":${arr(hi.reps)},""" +
        f""""triples_per_sec_lo":$thrLo%.1f,"triples_per_sec_hi":$thrHi%.1f,""" +
        f""""efficiency":$eff%.3f,""" +
        s""""ctl_pre":${pre.json},"ctl_post":${post.json},""" +
        f""""ctl_disagreement":$disagreement%.3f,"window_certified":$certified$staged}"""
    }
    def efficiency(loCores: Int, hiCores: Int): Double =
      (n / secHi) / ((hiCores.toDouble / loCores) * (n / secLo))
  }

  /** Measure one scaling block with self-certifying evidence: if the
    * bracketing probes disagree by > 25% (a host patch hit the window), the
    * block is re-run ONCE and BOTH attempts land in the JSON (VERDICT r3
    * item 1c) — the reported numbers come from the better-certified
    * attempt, and a still-uncertified artifact says so itself instead of
    * leaving an implausible efficiency unexplained (r3's official 0.231). */
  private def measureBlock(sfDir: String, loCores: Int, hiCores: Int,
      mult: Int, rounds: Int, staged: Boolean = false): (Attempt, String) = {
    def attempt(): Attempt = {
      val pre = probe()
      val (n, lo, hi) = interleaved(sfDir, loCores, hiCores, mult, rounds, staged)
      Attempt(n, lo, hi, pre, probe())
    }
    val first = attempt()
    if (first.certified) (first, first.json(loCores, hiCores))
    else {
      val second = attempt()
      val best = if (second.disagreement <= first.disagreement) second else first
      val other = if (best eq second) first else second
      (best, best.json(loCores, hiCores).dropRight(1) +
        s""","discarded_attempt":${other.json(loCores, hiCores)}}""")
    }
  }

  /** Host-ceiling control: a register-only ALU loop (no memory traffic, no
    * Spark) run on `k` threads — measures what THIS VM's cores can scale to
    * at all. If the control itself scales 8→32 below 1.0, any pipeline
    * efficiency at that pair is host-bounded by the same ceiling; embedding
    * the control in the bench JSON makes the argument machine-checkable
    * (VERDICT r1 item 9). Returns ops/sec aggregated across threads. */
  private def aluOpsPerSec(k: Int,
      itersPerThread: Long = 400000000L): Double = {
    val t0 = System.nanoTime()
    val threads = (1 to k).map { seed =>
      val t = new Thread(() => {
        var x = seed.toLong | 1L
        var i = 0L
        while (i < itersPerThread) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        if (x == 42L) println(x) // defeat DCE
      })
      t.start(); t
    }
    threads.foreach(_.join())
    k * itersPerThread / ((System.nanoTime() - t0) / 1e9)
  }

  /** Memory-bandwidth control: k threads each stream a shared 512 MB array
    * at cacheline stride (one long per 64 B line — every line transferred,
    * no ALU work to hide behind). The ALU control above shows this VM's
    * CORES scale near-linearly 8→32 in clean windows; the pipeline's 8→32
    * gap is the MEMORY WALL — one box's shared bandwidth saturates where a
    * real 4×-executor cluster brings 4× the memory channels. This control
    * quantifies that ceiling in the same JSON. */
  private lazy val bwArray: Array[Long] = {
    val a = new Array[Long](1 << 26) // 512 MB of longs
    var i = 0
    while (i < a.length) { a(i) = i.toLong * -7046029254386353131L; i += 1 }
    a
  }

  private def memBwBytesPerSec(k: Int, reps: Int = 6): Double = {
    val a = bwArray
    val t0 = System.nanoTime()
    val threads = (0 until k).map { tid =>
      val t = new Thread(() => {
        var s = 0L
        var r = 0
        while (r < reps) {
          var i = tid & 7
          while (i < a.length) { s += a(i); i += 8 } // 8 longs = 1 cacheline
          r += 1
        }
        if (s == 42L) println(s) // defeat DCE
      })
      t.start(); t
    }
    threads.foreach(_.join())
    k.toDouble * reps * a.length * 8L / ((System.nanoTime() - t0) / 1e9)
  }

  /** Queries kept OUT of the timed bench surface: correct-by-construction
    * oracle baselines whose plans are deliberately naive (the O(n²)
    * cartesian near-dup). They still run in Verify at sf0.01 for the
    * DuckDB gate; the scalable variant is what gets timed here. */
  private[graft] val oracleOnly: Map[String, String] = Map(
    "dd_embed_neardup" ->
      "O(n^2) cartesian oracle baseline; bench surface is dd_embed_neardup_lsh")

  /** Headline fragment of the bench JSON. A crashed query EXCLUDES itself
    * from `total`, which would otherwise make the headline SHRINK (look
    * faster) exactly when things break — so any failure INVALIDATES the
    * headline outright (`value:null`, ADVICE r3); the partial sum stays
    * available as `total_ok_queries` for diagnostics only. */
  private[graft] def headlineJson(nFailed: Int, total: Double): String =
    if (nFailed == 0) f""""value":$total%.3f"""
    else f""""value":null,"total_ok_queries":$total%.3f"""

  /** One attempt of the per-query timing block: probe → every query
    * best-of-2 → probe. A query that fails on ANY rep lands in `failures`
    * and is excluded from the timed results (a partial elapsed time of a
    * crash is not a timing, and letting it into `total` would make
    * round-over-round comparisons crash-shaped instead of
    * performance-shaped). `canary` holds three best-of-3 timings of one
    * FIXED Spark mini-pipeline (the q01 hash-agg shape) taken at block
    * start / middle / end — the ALU/bw probes certify the window's
    * RATIOS but are blind to absolute Spark-side degradation (disk,
    * scheduler, co-tenant), so r5's official per-query block read 1.5-2.4×
    * above four same-HEAD committed runs and was adjudicable only because
    * those extra runs existed (VERDICT r5 next #2). The canary makes one
    * artifact self-normalizing: a query that moved WITH the canary moved
    * with the window; a query that moved against a flat canary regressed. */
  private final case class QueryAttempt(results: Seq[(String, Seq[Double])],
      failures: List[(String, String)], pre: Probe, post: Probe,
      canary: Seq[Double], canaryLoad: Seq[LoadSample]) {
    def disagreement: Double = pre.disagreement(post)
    def certified: Boolean = disagreement <= 0.25
    // each canary timing travels with a host-load sample taken beside it
    // (VERDICT r6 next #2: the ~0.2s canary doesn't saturate 32 cores, so
    // it read FLAT through r6's steady 2× oversubscription — the load
    // probe is the absolute signal the canary can't give; a query that
    // moved against a flat canary AND a clean load probe regressed, one
    // that moved with other_java>=1 or load1>44 sat in a contended window)
    def canaryJson: String =
      s""""canary_sec":${canary.map(x => f"$x%.3f").mkString("[", ",", "]")},""" +
        f""""canary_sec_best":${canary.min}%.3f,""" +
        s""""canary_load":${canaryLoad.map(_.json).mkString("[", ",", "]")}"""
    /** Compact form for the discarded-attempt slot: per-query best times +
      * the probes that flagged the window. */
    def compactJson: String = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + f"${v.min}%.3f" }
        .mkString("{", ",", "}")
      f"""{"queries":$qs,"ctl_pre":${pre.json},"ctl_post":${post.json},""" +
        f""""ctl_disagreement":$disagreement%.3f,$canaryJson,""" +
        f""""n_failed":${failures.size}}"""
    }
  }

  /** The canary pipeline: best-of-3 of the fixed q01 hash-agg shape over
    * the round's pinned corpus. Deliberately a REAL Spark job (scan +
    * shuffle + agg + count) so it degrades with whatever degrades the
    * queries, and cheap enough (~0.5s warm) to run three times per block. */
  private def canaryRun(s: SparkSession, sfDir: String): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      SparkEntry.queries("q01_agg")(s, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }.min

  private def queryAttempt(sfDir: String, reps: Int = 2): QueryAttempt = {
    val pre = probe()
    val s32 = Sessions.local(32)
    var failures = List.empty[(String, String)]
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => oracleOnly.contains(name) }
    val mid = named.size / 2
    var canaryLoad = List(loadSample("canary_start"))
    var canary = List(canaryRun(s32, sfDir)) // block start
    val results = named.zipWithIndex
      .flatMap { case ((name, fn), qi) =>
        if (qi == mid) { // block middle
          canaryLoad :+= loadSample("canary_mid")
          canary :+= canaryRun(s32, sfDir)
        }
        var times = List.empty[Double]
        var ok = true
        var r = 0
        while (ok && r < reps) {
          val t0 = System.nanoTime()
          try { fn(s32, sfDir).count() } catch { case e: Throwable =>
            failures ::= (name, Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(120))
            ok = false
          }
          if (ok) times :+= (System.nanoTime() - t0) / 1e9
          // queries may cache their stage-table analogue; don't let 50
          // queries accumulate cached blocks
          Sessions.sweep(s32)
          r += 1
        }
        if (ok) Some(name -> times.toSeq) else None
      }
    canaryLoad :+= loadSample("canary_end")
    canary :+= canaryRun(s32, sfDir) // block end
    s32.stop()
    QueryAttempt(results, failures, pre, probe(), canary, canaryLoad)
  }

  /** Shuffle-exchange count of the staged read-back plans — phase 2's
    * per-turn agg over the bucketed `linked` table plus phase 3's per-conv
    * merge over the bucketed `turn_agg` — at the bench HEAD: 0 with r6's
    * conv_id-bucketed stage tables, 2 with r5's plain parquet stage
    * (VERDICT r6 next #6: the cluster-scale claim — two full-data
    * shuffles deleted at 100 TB — travels in the artifact the driver
    * replays, not just in a test). THE SAME traversal as the PipelineSpec/
    * PipelineSpec plan asserts — [[graft.util.PlanOps]], one definition. */
  private def stagedReadbackExchanges(sfDir: String): Int = {
    val s = Sessions.local(8)
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_rb")
    try {
      val base = SparkEntry.cfgOf(sfDir)
      val cfg = base.copy(nConvs = math.max(32, base.nConvs / 64))
      Pipeline.writeLinkedStage(s, cfg, dir.toString)
      Pipeline.writeTurnAggStage(s, cfg, dir.toString)
      def shuffles(df: org.apache.spark.sql.DataFrame): Int =
        graft.util.PlanOps.executedShuffleExchanges(df)
      val agg = operators.Aggregation.perTurn(
        s.table(Pipeline.stageTable(dir.toString, "linked")))
      val conv = operators.Aggregation.perConv(
        s.table(Pipeline.stageTable(dir.toString, "turn_agg")))
      shuffles(agg) + shuffles(conv)
    } finally {
      Pipeline.dropStageTables(s, dir.toString)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      s.stop()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // exclusive-run lock: a second concurrent bench poisons both runs'
    // certified windows (the r6 failure) — refuse it mechanically
    val (acquired, staleRemoved) = acquireLock()
    if (!acquired) {
      val msg = s"""{"metric":"total","value":null,"error":"bench lock """ +
        s"""bench_runs/.lock held by a live run - refusing to start a """ +
        s"""concurrent bench","sf":"$sfDir"}"""
      System.err.println(msg)
      println(msg)
      sys.exit(3)
    }
    val lockHook = new Thread(() => { Files.deleteIfExists(LockPath); () })
    Runtime.getRuntime.addShutdownHook(lockHook)
    try mainLocked(sfDir, staleRemoved)
    finally {
      Files.deleteIfExists(LockPath)
      Runtime.getRuntime.removeShutdownHook(lockHook)
    }
  }

  private def mainLocked(sfDir: String, staleRemoved: Boolean): Unit = {
    val loads = scala.collection.mutable.ArrayBuffer[LoadSample]()
    def sample(tag: String): Unit = loads += loadSample(tag)
    sample("start")
    // Corpus multiples sized so the LOW-core run takes >60s: scaling
    // efficiency measures the parallel region, and as the engine gets
    // faster round-over-round the corpus must grow to keep fixed per-job
    // latency (~2-4s of scheduling/broadcast/codegen) from masquerading as
    // lost efficiency at the high-core side. Doubled 16→32 / 64→128 in r7
    // after the ~2.4× extraction speedup (native segmentation kernel +
    // packed-hit extractor) would have cut the low sides to ~25-35s —
    // throughput (triples/s) stays comparable across rounds; block
    // wall-clock is restored to the r6/r7 regime, not performance movement.
    // Doubled again 32→64 / 128→256 late in r7: the certified post-speedup
    // run (run_1787052995) read the low sides at 43.7s (2→8) and 50.4s
    // (8→32) — below this floor — and its two-point strong-scaling fit
    // (W≈78.5s, F≈4.4s at mult=32) prices the fixed term alone at
    // efficiency 0.766 for a plan that scales ~1.0 once work dominates.
    val multA = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT_A", "64").toInt
    // The 8→32 pair needs a 4× larger corpus than 2→8: both host controls
    // (ALU, memory bandwidth) scale near-linearly to 32 threads, so the
    // residual 8→32 gap at small corpora is FIXED per-job latency
    // (scheduling ~1.5k tasks, broadcast build, codegen) against a ~8s run
    // — Amdahl on the driver, not the plan. Scaling work per core equally
    // across pairs keeps the parallel region dominant at both. Measured at
    // mult=64 (KgTime, r6 HEAD): 8 cores 109s, 32 cores 26.6s — 4.1× of
    // the 4× ideal, i.e. the plan itself scales ~1.0 once work dominates.
    val multB = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT_B", "256").toInt

    // global warm-up: JIT + codegen + automaton caches are JVM-wide; the
    // throwaway bw measurement pages in the 512 MB probe array so the
    // first real probe doesn't read low on first-touch faults
    val sWarm = Sessions.local(8)
    kgRun(sWarm, sfDir, multA)
    sWarm.stop()
    memBwBytesPerSec(8, 1)

    sample("post_warmup")
    val (attA, scalingA) = measureBlock(sfDir, 2, 8, multA, rounds = 3)
    sample("post_scaling_2_8")
    val (attB, scalingB) = measureBlock(sfDir, 8, 32, multB, rounds = 2)
    sample("post_scaling_8_32")
    // staged (production-IO) shape at BOTH pairs — see kgRun scaladoc; the
    // 8→32 staged block is new in r4 (VERDICT r3 item 3: the production
    // path's high-core behavior measured, not extrapolated)
    val (attS, scalingS) = measureBlock(sfDir, 2, 8, multA, rounds = 2,
      staged = true)
    sample("post_staged_2_8")
    val (attS2, scalingS2) = measureBlock(sfDir, 8, 32, multB, rounds = 2,
      staged = true)
    sample("post_staged_8_32")
    val thrB = attB.n / attB.secHi

    // end-of-run host-ceiling control (kept for continuity with the r3 JSON
    // shape; the per-block ctl_pre/ctl_post above are what certify each
    // window). Best-of-2 like every other probe — r4's single-shot version
    // shipped an implausible alu_eff_8_32 of 1.463 when its one 8-thread
    // measurement hit a degraded window (VERDICT r4 wrong #2).
    val hostCtl = probe().json
    def allCertifiedWith(q: QueryAttempt): Boolean =
      Seq(attA, attB, attS, attS2).forall(_.certified) && q.certified

    // bucket-cap drop audit at the bench corpus and the bench surface's
    // params (VERDICT r3 item 9): zero certifies the capped LSH paths
    // dropped no candidate buckets in the timed queries. Each capped
    // surface is audited at ITS OWN blocking AND its own cap: the at-scale
    // surfaces (dd_minhash Minhash, dd_simhash Simhash(4)) at the fixed
    // cap=1000, the recall surfaces (dd_minhash_recall Minhash,
    // dd_simhash_recall Simhash(8)) at the corpus-sized cap (maxBucket=0)
    // they run with — r4's fixed recall cap silently dropped 3 buckets at
    // sf0.1 (VERDICT r4 next #3). simhash_recall_max_hamming is the ADVICE r4
    // margin audit: the blocking guarantees recall only within hamming ≤ 7,
    // so a max observed hamming at/beyond 7 flags that the corpus's true
    // pairs are standing on bucket luck (measured: sf0.01 gate corpus 5 —
    // inside the ball; sf0.1 reaches 12, documented as luck-recalled).
    val (mhDropped, shDropped, mhRecallDropped, shRecallDropped, shMaxHam) = {
      val s = Sessions.local(8)
      try {
        val docs = s.read.parquet(s"$sfDir/documents.parquet")
        def dropped(b: Dedup.Blocking, maxBucket: Int) =
          Dedup.droppedBuckets(docs, "doc_id", "text", b, maxBucket).count()
        (dropped(Dedup.Minhash, 1000), dropped(Dedup.Simhash(4), 1000),
          dropped(Dedup.Minhash, 0), dropped(Dedup.Simhash(8), 0),
          {
            val r = Dedup.simhashRecallMaxHamming(docs, "doc_id",
              "text").collect()(0)
            if (r.isNullAt(0)) -1 else r.getInt(0) // -1 = zero pairs emitted
          })
      } finally s.stop()
    }
    val audit = s"""{"minhash_dropped_buckets":$mhDropped,""" +
      s""""simhash_dropped_buckets":$shDropped,""" +
      s""""minhash_recall_dropped_buckets":$mhRecallDropped,""" +
      s""""simhash_recall_dropped_buckets":$shRecallDropped,""" +
      s""""simhash_recall_max_hamming":$shMaxHam}"""

    // --- per-query timings at local[32], SELF-CERTIFYING (VERDICT r4
    // missing #1: r4's official window read all 47 comparable queries
    // ~1.25× slower and the artifact could not tell window from regression
    // — the exact gap the scaling blocks closed in r4). Same protocol:
    // best-of-2 per query, ALU+bw probes bracketing the whole block, and an
    // uncertified block re-runs once with both attempts kept. ---
    val firstQ = queryAttempt(sfDir)
    val (qAtt, qDiscarded) =
      if (firstQ.certified) (firstQ, None)
      else {
        val second = queryAttempt(sfDir)
        if (second.disagreement <= firstQ.disagreement) (second, Some(firstQ))
        else (firstQ, Some(second))
      }
    sample("post_queries")
    // the bucketing claim, measured at this HEAD (VERDICT r6 next #6)
    val rbExchanges = stagedReadbackExchanges(sfDir)
    sample("end")
    // co-tenancy verdict over EVERY sample of the run, canary-side ones
    // included (the canary samples sit inside the long per-query window —
    // exactly where r6's pollution lived)
    val allLoads = loads.toSeq ++ qAtt.canaryLoad ++
      qDiscarded.map(_.canaryLoad).getOrElse(Seq.empty)
    val cotenancy = s"""{"samples":${allLoads.map(_.json)
        .mkString("[", ",", "]")},""" +
      s""""clean":${cotenancyClean(allLoads)},""" +
      f""""max_load1":${allLoads.map(_.load1).max}%.2f,""" +
      s""""max_other_java":${allLoads.map(_.otherJava).max},""" +
      s""""stale_lock_removed":$staleRemoved}"""
    val results = qAtt.results
    val failures = qAtt.failures
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"${v.min}%.3f" }
      .mkString("{", ",", "}")
    val qReps = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(x => f"$x%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val qCtl = f""""queries_ctl_pre":${qAtt.pre.json},""" +
      f""""queries_ctl_post":${qAtt.post.json},""" +
      f""""queries_ctl_disagreement":${qAtt.disagreement}%.3f,""" +
      s"""${qAtt.canaryJson},""" +
      s""""queries_window_certified":${qAtt.certified}""" +
      qDiscarded.map(d => s""","queries_discarded_attempt":${d.compactJson}""")
        .getOrElse("")
    val excl = oracleOnly.map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")
    val fails = failures.reverse.map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2.min).sum
    val headline = headlineJson(failures.size, total)
    // the short core every consumer needs: totals + the four scaling
    // blocks + per-block window certification + failure count
    val core = s""""metric":"total",$headline,"unit":"sec",""" +
      f""""triples_per_sec":$thrB%.1f,""" +
      s""""scaling":$scalingA,"scaling_8_32":$scalingB,""" +
      s""""scaling_staged_2_8":$scalingS,"scaling_staged_8_32":$scalingS2,""" +
      s""""host_ctl":$hostCtl,"windows_certified":${allCertifiedWith(qAtt)},""" +
      s""""cotenancy":$cotenancy,""" +
      s""""staged_readback_exchanges":$rbExchanges,""" +
      s""""audit":$audit,"n_failed":${failures.size}"""
    val jsonFull = s"""{$core,"excluded":$excl,"failures":$fails,""" +
      s""""queries":$qs,"query_reps":$qReps,$qCtl,"sf":"$sfDir"}"""
    // full line to the files the driver can read whole — plus a
    // round-stamped artifact under bench_runs/ that gets COMMITTED, so a
    // run's evidence survives the driver overwriting bench_out.json
    // (VERDICT r3 item 2: the r3 "run 4 / 530.6k" claim lost its artifact
    // exactly that way)
    try {
      Files.writeString(Paths.get("bench_out.json"), jsonFull)
      Files.createDirectories(Paths.get("bench_runs"))
      Files.writeString(
        Paths.get(f"bench_runs/run_${System.currentTimeMillis / 1000}%d.json"),
        jsonFull)
      sys.env.get("SPARK_GRAFT_BENCH_OUT")
        .foreach(p => Files.writeString(Paths.get(p), jsonFull))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] file write failed: ${e.getMessage}")
    }
    println(jsonFull)
    // ...and a <1KB summary as the FINAL stdout line: rounds 1-2 both had
    // `parsed:null` because the driver's captured tail truncated the >4KB
    // full line — a sub-1KB last line survives any tail window. Compact
    // efficiencies only; the full per-rep + per-block-control detail lives
    // in the full line / files.
    val effs = f""""eff_2_8":${attA.efficiency(2, 8)}%.3f,""" +
      f""""eff_8_32":${attB.efficiency(8, 32)}%.3f,""" +
      f""""eff_staged_2_8":${attS.efficiency(2, 8)}%.3f,""" +
      f""""eff_staged_8_32":${attS2.efficiency(8, 32)}%.3f,""" +
      f""""bw_eff_8_32_ref":${(attB.pre.bwEff + attB.post.bwEff) / 2}%.3f"""
    println(s"""{"metric":"total",$headline,"unit":"sec",""" +
      f""""triples_per_sec":$thrB%.1f,$effs,""" +
      s""""windows_certified":${allCertifiedWith(qAtt)},""" +
      s""""cotenancy_clean":${cotenancyClean(allLoads)},""" +
      s""""staged_readback_exchanges":$rbExchanges,""" +
      s""""n_failed":${failures.size},""" +
      s""""sf":"$sfDir","full":"bench_out.json"}""")
  }
}
