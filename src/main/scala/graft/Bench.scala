package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Bench main: times every SparkEntry query at SPARK_GRAFT_SF_DIR,
  * materializing full results through the noop sink (every row and
  * column is computed and shipped — `count()` would let Catalyst prune
  * per-row expression work and hide crashes).
  *
  * Methodology (round-4 fix): queries run in SORTED NAME ORDER — the
  * previous Map-iteration order reshuffled whenever the key set
  * changed, so JIT/warm-cache position shifted between rounds and
  * unchanged queries appeared to regress 10-20x. Each query gets ONE
  * untimed warmup run immediately before its SPARK_GRAFT_BENCH_REPS
  * (default 3) timed passes (round-7 fix: a single whole-suite warmup
  * pass left background JIT compilation from LATER queries' warmups
  * in flight when the head of the sorted order was being timed —
  * a3/a4/a15 showed 3-5x inflation on unchanged code; per-query
  * warmup keeps compilation work adjacent to the query that caused
  * it, at the same total pass count). The reported per-query number
  * is the MEDIAN across passes and "value" is the sum of medians.
  * Failures are recorded as -1 and printed to stderr, never silently
  * timed. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Suite hygiene (round-16): a ~200-query suite in ONE JVM pins
      // shuffle files and checkpoint/broadcast blocks until the
      // ContextCleaner's periodic GC (default 30min), so late queries
      // run with less execution memory and spill — measured 5-12x
      // in-suite inflation at the 100x corpus vs the same query
      // isolated (a8_approx 87.6 vs 6.9s, txt_feature_hash 39.8 vs
      // 6.8s). A real cluster gives each query fresh executors; the
      // 1-min cleaner cadence restores that steady state per query.
      // Round-17: the ADVICE alternative — GC only BETWEEN queries,
      // never on a timer — was A/B'd and REGRESSED the suite: long
      // iterative queries (tolerance-exit PageRank/PPR, delta-stepping
      // SSSP) produce dead per-round checkpoint/broadcast blocks that
      // only the mid-query timer reclaims; without it
      // graph_sssp_delta inflated 9.6 -> 285s in-suite (11.8s fresh
      // JVM) and every late-suite iterative row ran ~2x. The timer
      // stays, its occasional landing inside a timed pass accepted as
      // variance (the outlier requery below already settles such
      // rows); the explicit between-query GC is kept ON TOP as a
      // deterministic per-query clean start.
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional runtime-conf overrides for A/B runs, e.g.
    // SPARK_GRAFT_CONF="graft.graph.stateBroadcastMaxRows=1;spark.sql.autoBroadcastJoinThreshold=-1"
    // tolerant of trailing ';' / stray whitespace; an entry without
    // '=' is a hard error with the offending text (a silent skip
    // would A/B-test the wrong configuration)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').iterator
      .map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => spark.conf.set(k.trim, v.trim)
          case _ => sys.error(s"bad SPARK_GRAFT_CONF entry (expected key=value): '$kv'")
        }
      })

    // optional comma-separated name filter for local iteration; the
    // driver leaves it unset and times the full surface
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Tag-driven surface selection (round-11, VERDICT item 2): the
    // registry carries machine-readable tags (SparkEntry.queryTag).
    // "build" rungs (index construction; the scale answer is the
    // persisted serving pair) are opt-in via SPARK_GRAFT_BENCH_ONLY.
    // SPARK_GRAFT_BENCH_PROFILE=production additionally drops the
    // "audit" rungs — the exact verification queries that are
    // superlinear at scale by contract (41% of sf1 suite time) — so a
    // one-command production-surface bench exists at any sf.
    val profile = sys.env.getOrElse("SPARK_GRAFT_BENCH_PROFILE", "all")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .filter(n => only.isDefined || SparkEntry.queryTag(n) != "build")
      .filter(n => profile != "production" || SparkEntry.queryTag(n) == "production")

    def runOne(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          -1.0
      }
    }

    // per-query untimed warmup immediately before its timed reps;
    // after each query's reps, one explicit GC hands the
    // ContextCleaner its weak-ref queue OUTSIDE any measured window
    // (shuffle-file/broadcast release — see the suite-hygiene note on
    // the SparkSession builder above)
    val times: Map[String, Seq[Double]] =
      names.map { n =>
        runOne(n)
        val reps_ = (1 to reps).map(_ => runOne(n)).toSeq
        System.gc()
        n -> reps_
      }.toMap

    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0 else ok(ok.size / 2)
    }

    val medians = names.map(n => n -> median(times(n)))

    // Outlier auto-rerun (round-10): driver benches keep landing on a
    // loaded machine, and a co-tenant burst during one query's reps
    // reads as a regression (graph_communities 4.64 s in-suite vs
    // 2.23 s isolated, BASELINE.md round 8 — previously separated only
    // by judge-side forensics). Any query whose suite median deviates
    // >2x from the last recorded anchor (the previous round's
    // bench_out.json, read BEFORE this run overwrites it) is
    // re-measured after the suite — a settle pause, then the same
    // warmup+reps protocol — and BOTH numbers ship in the artifact:
    // `queries` stays the honest in-suite median, `requeried` carries
    // the isolated re-measure, so ambient noise separates from real
    // regressions inside the artifact itself.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val anchorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_ANCHOR", outPath)
    val anchor: Map[String, Double] =
      try {
        val txt = Files.readString(Paths.get(anchorPath))
        // parse ONLY the `queries` object — top-level fields (value,
        // reps) and the requeried re-measures must not leak into the
        // anchor map and skew outlier detection (round-11 ADVICE)
        // whitespace-tolerant: pretty-printed anchors (a hand-patched
        // artifact) silently parsed to an EMPTY anchor map and the
        // >2x outlier requery never fired (round-14: a 41.7 s ambient
        // graph_triangles median shipped unrequeried because of this)
        val qobj = """"queries"\s*:\s*\{([^}]*)\}""".r
          .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
        """"([A-Za-z0-9_]+)"\s*:\s*(-?[0-9][0-9.]*)""".r.findAllMatchIn(qobj)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    // Round-20 (VERDICT item 4): in addition to the >2x-vs-anchor rule,
    // a median more than 3x its OWN rep minimum is a burst signature —
    // one co-tenant spike inside the reps (graph_bfs_hops shipped a
    // 16.31 s median over a 1.97 s quiet floor in r19) — and requeries
    // even when no anchor entry exists (new-to-top queries).
    val outliers = medians.collect {
      case (n, v) if v >= 0.5 && (
        anchor.get(n).exists(a =>
          a >= 0.5 && (v / a > 2.0 || a / v > 2.0)) ||
        times(n).filter(_ >= 0).minOption.exists(mn =>
          mn > 0.0 && v / mn > 3.0)) => n
    }
    val requeried: Map[String, Double] =
      if (outliers.isEmpty) Map.empty
      else {
        System.err.println(s"[bench] re-measuring ${outliers.size} outlier(s) vs " +
          s"$anchorPath: ${outliers.mkString(",")}")
        System.gc()
        Thread.sleep(2000)
        outliers.map { n =>
          runOne(n)
          n -> median((1 to reps).map(_ => runOne(n)))
        }.toMap
      }

    // JSON numbers must render with '.' regardless of the JVM's default
    // locale — the f interpolator is locale-sensitive, and the final
    // stdout line is exactly what the round driver parses (ADVICE r15).
    def num3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def num2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qs = medians.map { case (k, v) => "\"" + k + "\":" + num3(v) }
      .mkString("{", ",", "}")
    // min/max per query alongside the median (round-19, VERDICT item
    // 5): reps=2 "median" is the LARGER pass by sorted-index-1, which
    // made reps=2 artifacts non-comparable with reps=3 medians at face
    // value — the spread lets any reader reconstruct the protocol bias
    // instead of footnoting every cross-vintage comparison. File
    // artifact only (the console line must stay inside the driver's
    // ~2000-char tail window).
    val spread = names.map { n =>
      val ok = times(n).filter(_ >= 0)
      val (lo, hi) = if (ok.isEmpty) (-1.0, -1.0) else (ok.min, ok.max)
      "\"" + n + "\":[" + num3(lo) + "," + num3(hi) + "]"
    }.mkString("{", ",", "}")
    val rq = requeried.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + num3(v) }
      .mkString("{", ",", "}")
    // Requery-CONFIRMED regressions (round-20, VERDICT item 6): a
    // requeried query whose isolated re-measure is still >2x the
    // anchor is a real regression, not ambient noise — the artifact
    // names these so BenchAnchorSpec can fail the suite on a committed
    // anchor instead of leaving the call to judge-side forensics.
    val confirmed = requeried.collect {
      case (n, v) if anchor.get(n).exists(a => a >= 0.5 && v / a > 2.0) => n
    }.toSeq.sorted
    val confirmedJson = confirmed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = medians.collect { case (_, v) if v >= 0 => v }.sum
    // per-tag subtotals: the artifact itself states how much of the
    // measured time is production surface vs by-contract audit rungs
    val tagTotals = medians.filter(_._2 >= 0)
      .groupBy { case (n, _) => SparkEntry.queryTag(n) }
      .map { case (t, xs) => t -> xs.map(_._2).sum }
    val tags = tagTotals.toSeq.sortBy(_._1)
      .map { case (t, v) => "\"" + t + "\":" + num3(v) }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"requeried":$rq,"requery_confirmed":$confirmedJson,"anchor":"$anchorPath","tags":$tags,"profile":"$profile","sf":"$sfDir","reps":$reps,"stat":"median","warmup":true}"""
    println(json)
    // Driver-artifact self-containment (round-14 VERDICT #7): the round
    // driver keeps only the last ~2000 chars of stdout and parses the
    // final JSON line it finds there, so the full 200+-query map
    // (≈7 KB) always arrived sheared and BENCH_r*.json shipped
    // "parsed": null. The LAST line printed is therefore a compact
    // summary that fits the tail whole — headline total, per-tag
    // subtotals, requeries, and the slowest queries — with the
    // complete per-query map in `queries_full` (the atomically-written
    // outPath below). queries_truncated flags the subset explicitly.
    // Round-20 (VERDICT item 4): top-25 by default so the driver's
    // round-over-round PERF table compares more than a noise-dominated
    // handful — but LENGTH-GUARDED, because the driver's ~2000-char
    // tail window cut even the compact line mid-stream in r16 and the
    // requeried map's size varies run to run. The widest line that
    // fits under the budget ships; degradation order drops the top-N
    // width before the requery map (requeries separate ambient noise
    // from real regressions — the more valuable signal); a cut requery
    // map says so (requeried_truncated, with the full count in
    // requeried_n). Entries are only ever ADDED vs the r19 top-10
    // format, never renamed.
    def consoleLine(topN: Int, rqN: Int): String = {
      val top = medians.filter(_._2 >= 0).toSeq.sortBy(-_._2).take(topN)
        .map { case (k, v) => "\"" + k + "\":" + num2(v) }
        .mkString("{", ",", "}")
      val rqc = requeried.toSeq.sortBy(-_._2).take(rqN).sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + num3(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${num3(total)},"unit":"sec","queries":$top,""" +
        s""""queries_truncated":true,"queries_n":${medians.count(_._2 >= 0)},""" +
        s""""queries_full":"$outPath","requeried":$rqc,""" +
        s""""requeried_truncated":${rqN < requeried.size},"requeried_n":${requeried.size},""" +
        s""""tags":$tags,""" +
        s""""profile":"$profile","sf":"$sfDir","reps":$reps,"stat":"median","warmup":true}"""
    }
    val budgetChars = 1800 // tail window ~2000 minus sbt's epilogue line
    println(Seq(consoleLine(25, requeried.size), consoleLine(15, requeried.size),
        consoleLine(10, requeried.size), consoleLine(10, 10))
      .find(_.length <= budgetChars)
      .getOrElse(consoleLine(10, 5)))
    // Also land the JSON in a file via tmp+atomic-move: the console
    // line travels through a truncating sbt log tail on the driver
    // side (BENCH_r08.json arrived with parsed:null), a file never
    // does. Env-overridable so local sweeps don't clobber the
    // round artifact.
    try {
      val tmp = Paths.get(outPath + ".tmp")
      Files.writeString(tmp, json + "\n")
      Files.move(tmp, Paths.get(outPath), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
