package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Queries execute into the `noop` sink — unlike `count()`, nothing is
  * pruned away by the count optimization, so the timing covers the full
  * computation each query declares. The whole query set runs
  * SPARK_GRAFT_RUNS full passes (default 2) — the FULL set once, then
  * again — and reports the per-query MINIMUM across passes. Interleaving
  * passes (instead of back-to-back runs of the same query) is what makes
  * min() actually cancel machine noise: this machine's run-to-run noise
  * exceeds ±40% under load, and a transient load spike is minutes long —
  * back-to-back runs of one query both land inside it (two rounds of
  * judge adjudication traced inflated captures to exactly that), while
  * under full-set passes the spike hits pass 1 of some queries and pass
  * 2 of OTHERS, so every query still gets one clean measurement. The
  * JSON carries "runs" and "cpus" (the local[N] the session ran,
  * [[GraftSession.localCpus]]) so captures state their own mode.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // machine load at capture time: a loaded box inflates wall-clock >40%
    // on this hardware, so the artifact must be self-identifying. The load
    // average is context only: at main entry it still counts the
    // launcher's compile and a previous capture's burn (an idle 4-core box
    // read 1.78, back-to-back captures 3.0-4.0), so contention is judged
    // on busyCores, sampled before the session starts
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString(",")
      catch { case _: Throwable => "" }
    val loadBefore = loadavg()
    val busyCores = outsideBusyCores()
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.localCpus()
    val spark = GraftSession.local(cpus)
    // warm-up: touch every table once so no query's time includes
    // first-scan/codec/JVM initialization
    Tables.names.foreach { n =>
      try {
        (if (n == "events") Tables.events(spark, sfDir)
         else Tables.load(spark, sfDir, n)).write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => }
    }
    // noise canary (VERDICT r13 #4): a frozen CPU+shuffle workload
    // stamped at capture start and end — cross-round query deltas are
    // read against the canary ratio, and start-vs-end exposes drift
    // WITHIN the capture. One discarded warm run first so the canary
    // measures the machine, not codegen/JIT warmup. A broken canary
    // must never void the capture it brackets (ADVICE r15): stamp a
    // -1 sentinel and keep the measurements.
    def canary(): Double =
      try { Canary.run(spark) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] canary failed (stamping -1): ${e.getMessage}")
        -1.0
      }
    canary()
    val canaryStart = canary()
    // contention self-diagnosis (VERDICT r15 #2: the graded r15 capture
    // started at load 10.17 with canary 1.33-1.91 and recorded a 16x
    // "regression" with zero plan delta — a capture must DECLARE itself
    // contaminated instead of leaving the reader to reconstruct it).
    // Contended: other processes kept more than half the requested cores
    // busy while this JVM started, or an end canary above 1.25x the start
    // canary (load arriving mid-capture). Both are judged against the host
    // itself — a fixed canary reference in seconds flagged every capture
    // on a slower box. ADDITIVE field only — nothing is skipped or
    // retimed, the flag just travels with the numbers.
    val contendedStart = busyCores.map(_ > cpus / 2.0)
    // optional subset for fast local iteration: SPARK_GRAFT_ONLY=q1,q2;
    // SPARK_GRAFT_SKIP excludes named queries (full-set captures on
    // boxes without headroom for a known disk-bound query — the skipped
    // names land in the sidecar so the capture declares its own gap)
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val skip: Set[String] = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty)
    if (skip.nonEmpty)
      System.err.println(s"[bench] skipping by SPARK_GRAFT_SKIP: ${skip.toSeq.sorted.mkString(",")}")
    val qlist = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) && !skip(name) }
    // interleaved passes: the FULL set once per pass, so a transient
    // load spike lands on different queries in each pass and the
    // per-query min stays clean
    val passes = (1 to runs).map { _ =>
      qlist.map { case (name, fn) =>
        // the timer runs inside the phase and the phase drains the
        // listener bus after it, so telemetry never inflates the seconds
        val ((elapsed, ok), work) = Observe.phase(spark, name) {
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
            }
          ((System.nanoTime() - t0) / 1e9, ok)
        }
        // drop every cached/locally-checkpointed block the query left in
        // the block manager: operators persist() and localCheckpoint()
        // internally and those blocks are dead once the noop write
        // finishes (each pass rebuilds the DataFrame from scratch), but
        // without this they ACCUMULATE across the 200+ query set — by
        // the time the alphabetically-late graph family runs, the
        // executor store carries every earlier query's leftovers and the
        // measurement pays their eviction + GC. A real deployment runs
        // one query per job; per-query isolation is the honest timing.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        name -> ((elapsed, ok, work))
      }.toMap
    }
    val results = qlist.map { case (name, _) =>
      val times = passes.map(_(name))
      // a crashed run's fast abort must not count as the query's time:
      // min over SUCCESSFUL runs; if none succeeded, report the slowest
      // failure so a broken query can never look fast. Shuffle bytes come
      // from the same run (bytes are plan-determined, but AQE can coalesce
      // differently under memory pressure — the clean pass is the
      // representative one)
      val good = times.filter(_._2)
      val (best, _, work) = if (good.nonEmpty) good.minBy(_._1) else times.maxBy(_._1)
      (name, best, times, work)
    }
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    // comma decimal separator (de_DE, fr_FR, …) would make the printed
    // line and the sidecar invalid JSON
    def r2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + r2(v) }
      .mkString("{", ",", "}")
    // every individual run (not just the min) as [seconds, ok] pairs:
    // dispersion across runs is the in-artifact noise estimate, and a
    // failed run's fast abort must be distinguishable from a fast run
    val ts = results.map { case (k, _, times, _) =>
      "\"" + k + "\":[" +
        times.map { case (t, ok, _) => s"[$t,${if (ok) 1 else 0}]" }.mkString(",") + "]"
    }.mkString("{", ",", "}")
    // per-query shuffle telemetry: [read, write, spill_mem, spill_disk]
    // bytes from the representative pass — the scale audit column
    val sh = results.map { case (k, _, _, s) =>
      "\"" + k + s"""\":[${s.shuffleReadBytes},${s.shuffleWriteBytes},${s.spillMemBytes},${s.spillDiskBytes}]"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val canaryEnd = canary()
    val loadAfter = loadavg()
    // The driver captures only the last ~2000 chars of output, so the
    // printed line must stay SHORT or it is truncated mid-line and never
    // parses (BENCH_r1–r3 all recorded parsed:null for exactly this
    // reason). The full per-query map + per-run times go to a sidecar
    // file; the printed line carries the totals plus the slowest queries
    // and stays comfortably under the tail window.
    // anchored at an env-overridable absolute path (not bare cwd) so a
    // concurrent run elsewhere can redirect its sidecar (ADVICE r4)
    val detailFile = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_DETAIL",
      s"${System.getProperty("user.dir")}/tools/bench_detail.json"))
    Option(detailFile.getParentFile).foreach(_.mkdirs())
    // queries with ZERO successful runs, named IN THE PRINTED LINE: the
    // per-run ok flags live in the sidecar, but every artifact built
    // from the printed line alone (per-query growth captures) would
    // otherwise record a crashed run's abort time as a measurement —
    // exactly how an OOM'd q_dbscan_cluster@sf1 run entered a growth
    // table as "32.6 s" (r9). A failed query's time is still reported
    // (slowest failure, above) but now carries a loud marker.
    val failedNames = results.collect {
      case (k, _, times, _) if !times.exists(_._2) => k
    }
    def failedJson(names: Seq[String]): String =
      names.map("\"" + _ + "\"").mkString("[", ",", "]")
    // contended if EITHER bracket was hot: a capture that started clean
    // and ended hot still has its late-alphabet queries inflated. The end
    // bracket is judged by the canary against the start canary alone
    // (rather than also by load): the 1-min load sampled right
    // after the bench's own full-width queries and canary counts that
    // self-load, not outside contention. A failed canary (the -1
    // sentinel) or an unreadable /proc leaves contention unknown, so the
    // flag is null rather than a false "clean"
    val canaryOk = canaryStart >= 0 && canaryEnd >= 0
    val contended = contendedStart.filter(_ => canaryOk)
      .fold("null")(start => (start || canaryEnd > 1.25 * canaryStart).toString)
    val pw = new java.io.PrintWriter(detailFile, "UTF-8")
    try pw.println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"times":$ts,"shuffle_bytes":$sh,"failed":${failedJson(failedNames)},"skipped":${failedJson(skip.toSeq.sorted)},"canary":[${r2(canaryStart)},${r2(canaryEnd)}],"canary_ok":$canaryOk,"contended":$contended,"busy_cores":${busyCores.fold("null")(r2)},"load":[$loadBefore],"load_after":[$loadAfter],"sf":"$sfDir","cpus":$cpus,"runs":$runs}""")
    finally pw.close()
    val slow = results.sortBy(-_._2).take(25)
      .map { case (k, v, _, _) => "\"" + k + "\":" + r2(v) }.mkString("{", ",", "}")
    // the PRINTED failed list is capped at 8 names: a mass-failure run
    // (wrong sfDir, starved heap — every query fails) would otherwise
    // blow the tail window and truncate the line into unparseable JSON
    // precisely when the marker matters most; failed_count carries the
    // true total and the sidecar the full list.
    val failedShown = failedJson(failedNames.take(8))
    println(s"""{"metric":"total","value":${r2(total)},"unit":"sec","n_queries":${results.size},"queries":$slow,"queries_note":"slowest 25 of ${results.size}; full map in detail file","detail":"${detailFile.getAbsolutePath}","failed":$failedShown,"failed_count":${failedNames.size},"canary":[${r2(canaryStart)},${r2(canaryEnd)}],"canary_ok":$canaryOk,"contended":$contended,"load":[$loadBefore],"load_after":[$loadAfter],"sf":"$sfDir","cpus":$cpus,"runs":$runs}""")
    spark.stop()
  }

  /** Cores other processes kept busy over 2 s: the busy jiffies of all
    * cores in `/proc/stat` (all but idle and iowait) less this JVM's
    * utime + stime (fields 14 and 15 of `/proc/self/stat`), per jiffy of
    * one core. None when `/proc` cannot be read.
    */
  private def outsideBusyCores(): Option[Double] = {
    def read(f: String) = { val src = scala.io.Source.fromFile(f); try src.mkString finally src.close() }
    def sample() = {
      val cpu = read("/proc/stat").linesIterator.filter(_.startsWith("cpu")).toSeq
      val t = cpu.head.split("\\s+").slice(1, 9).map(_.toLong)
      val own = read("/proc/self/stat").split("\\) ").last.split(" ")
      (t.sum - t(3) - t(4), t.sum, own(11).toLong + own(12).toLong, cpu.size - 1)
    }
    try {
      val (b0, a0, o0, cores) = sample()
      Thread.sleep(2000L)
      val (b1, a1, o1, _) = sample()
      Some(math.max(0L, b1 - b0 - (o1 - o0)).toDouble * cores / math.max(1L, a1 - a0))
    } catch { case _: Exception => None }
  }
}
