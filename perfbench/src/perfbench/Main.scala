package perfbench

import graft.{Bench, Pipeline}
import graft.model.{DictEntry, Mention, Turn}
import graft.operators.{Blocking, Clustering, Coref, MentionDetect, Scoring}
import graft.sources.TranscriptGen
import graft.sources.TranscriptGen.GenConfig
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** The relspark benchmark: times the public entry points of
  * [[graft.Pipeline]] on one generated workload and checks their outputs
  * against the generator's gold labels.
  *
  * One run: generate or reuse the corpus (untimed); set up (session start,
  * input load, and one untimed from-scratch run as the warm-up); then time
  * from-scratch runs (`Pipeline.run` or `runJoined`, plus a count of the
  * output) for at least `--seconds` and at least once; check the last
  * output's pairwise F1 against gold.
  *
  * Traced (`--trace 1`), each timed run is followed by a traced pass that
  * calls each layer's public functions in turn, materializes every layer's
  * output, and charges all Spark work to the layer's span (see
  * [[SpanListener]]). On a workload with `maintain`, the pass goes on with
  * a maintenance cycle from a state bootstrapped over the base
  * conversations: increment the delta, retract the retract list, compact
  * into a fresh root; the maintained clusters must equal a from-scratch
  * run over base ∪ delta − retracted row for row.
  *
  * Prints `PERFBENCH_RESULT {json}` as its last line. */
object Main {

  /** `joined`: dimension tables stay distributed; `maintain`: traced runs
    * also measure the maintenance cycle (broadcast path). */
  final case class Workload(name: String, gen: Long => GenConfig, joined: Boolean,
                            maintain: Boolean)

  // Sizes: every operation here is bound by per-job latency (tens to
  // hundreds of small Spark jobs) more than by rows, so larger corpora
  // mostly add run time, and a run must fit the benchmark's time budget.
  val Workloads: Seq[Workload] = Seq(
    Workload("hot_broadcast",
      s => GenConfig(nEntities = 2000, nConvs = 5000, seed = s),
      joined = false, maintain = true),
    Workload("longtail_joined",
      s => GenConfig(nEntities = 20000, nConvs = 2000, zipfS = 0.6, seed = s),
      joined = true, maintain = false))

  /** The layers whose spans make up a traced from-scratch run. */
  val RunLayers: Set[String] = Set("scan", "detect", "resolve", "cluster")

  /** Layers in span order with their parents; `None` is top-level. */
  val Layers: Seq[(String, Option[String])] = Seq(
    "scan" -> None, "detect" -> None, "resolve" -> None, "cluster" -> None,
    "blocking.keys" -> Some("cluster"), "blocking.pairs" -> Some("cluster"),
    "scoring" -> Some("cluster"), "clustering" -> Some("cluster"),
    "increment" -> None, "retract" -> None, "compact" -> None)
  /** Counters with the layer they describe. */
  val Counters: Seq[(String, String)] = Seq(
    "detect.mentions" -> "detect",
    "supernode.scoring_set" -> "cluster", "supernode.collapse" -> "cluster",
    "scoring.yield" -> "scoring",
    "clustering.clusters" -> "clustering", "clustering.max_cluster" -> "clustering",
    "increment.upserts" -> "increment", "retract.upserts" -> "retract",
    "compact.write_mb" -> "compact")
  val SpanFields: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "task_s" -> "s", "util" -> "ratio", "jobs" -> "count",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB", "rows_out" -> "count")

  val MinF1 = 0.99
  /** `local[nproc]`, as `Bench` runs. */
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  final case class Opts(workload: Workload, seed: Long, seconds: Double,
                        trace: Boolean, work: String, corpusRoot: String,
                        traceOut: Option[String])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case bad => throw new IllegalArgumentException(s"bad arguments: ${bad.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = get("workload")
    Opts(
      workload = Workloads.find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"unknown workload $name")),
      seed = get("seed").toLong,
      seconds = get("seconds").toDouble,
      trace = get("trace") == "1",
      work = get("work"),
      corpusRoot = get("corpus"),
      traceOut = kv.get("trace-out"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val bench = new Run(parse(args))
    val result = try bench.run() finally bench.stop()
    println("PERFBENCH_RESULT " + result)
  }

  /** One timed from-scratch run's measurements and output. */
  final case class Rep(wallS: Double, shuffleBytes: Long, heapBytes: Long, out: DataFrame)

  final case class SpanRec(name: String, parent: Option[String], key: String,
                           wallS: Double, rowsOut: Long)

  /** A workload's inputs as read from its corpus tables. */
  final class Inputs(spark: SparkSession, corpus: Corpus, joined: Boolean) {
    import spark.implicits._
    private def read(name: String): DataFrame = spark.read.parquet(corpus.table(name))

    val turns: Dataset[Turn] = read("turns").as[Turn]
    val gold: DataFrame = read("gold")
    // the maintenance cycle's tables
    lazy val base: Dataset[Turn] = read("base").as[Turn]
    lazy val delta: Dataset[Turn] = read("delta").as[Turn]
    lazy val retract: DataFrame = read("retract")
    lazy val remaining: Dataset[Turn] = read("remaining").as[Turn]
    val dictDf: Dataset[DictEntry] = read("dict").as[DictEntry]
    val vecDf: DataFrame = read("vecs")
    // the broadcast path's in-memory dimension maps
    val dict: Map[String, DictEntry] =
      if (joined) Map.empty else dictDf.collect().map(d => d.mention -> d).toMap
    val vecs: Map[String, Array[Float]] =
      if (joined) Map.empty else vecDf.as[(String, Array[Float])].collect().toMap

    val nTurns: Long = turns.count()
  }

  final class Run(opts: Opts) {
    private val wl = opts.workload
    private val listener = new SpanListener
    private val (spark, sessionS) = {
      val t0 = System.nanoTime()
      val s = Bench.benchSession(Cores.toString)
      s.sparkContext.addSparkListener(listener)
      (s, (System.nanoTime() - t0) / 1e9)
    }
    private def sc = spark.sparkContext
    private val genCfg = wl.gen(opts.seed)
    private val corpus = Spans.within(sc, "generate") {
      Corpus.ensure(spark, genCfg, opts.corpusRoot, maintenance = wl.maintain && opts.trace)
    }._1
    private var in: Inputs = _
    private var state: Pipeline.IncrementState = _
    private var nCompactions = 0
    private var attempted = 0
    private var failed = 0
    private val failures = ArrayBuffer.empty[String]

    def stop(): Unit = spark.stop()

    private val born = System.nanoTime()
    private def log(msg: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $msg")

    /** Records a check; a failed one makes the run incorrect. */
    private def check(name: String, ok: Boolean, detail: String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; failures += s"$name: $detail" }
      log(s"check $name: ${if (ok) "ok" else "FAILED"} ($detail)")
    }

    // ---- the public entry points, called as a user calls them ----

    private def fromScratch(turns: Dataset[Turn]): DataFrame =
      if (wl.joined) Pipeline.runJoined(turns, in.dictDf, in.vecDf)
      else Pipeline.run(turns, in.dict, in.vecs)

    // ---- set-up ----

    /** Session start (timed before the untimed corpus generation), input
      * load, and one from-scratch run as the warm-up. */
    private def setup(): Double = {
      val (_, s) = Spans.within(sc, "setup") {
        in = new Inputs(spark, corpus, wl.joined)
        fromScratch(in.turns).count()
      }
      log(f"setup ${sessionS + s}%.3f s")
      sessionS + s
    }

    // ---- untraced from-scratch run ----

    private def heapAfterGc(): Long = {
      System.gc()
      val rt = Runtime.getRuntime
      rt.totalMemory() - rt.freeMemory()
    }

    private def repetition(i: Int): Rep = {
      val key = s"timed#$i"
      val (out, wall) = Spans.within(sc, key) {
        val out = fromScratch(in.turns)
        out.count()
        out
      }
      val heap = heapAfterGc()
      val shuffle = listener.snapshot(sc).get(key).map(_.shuffleBytes).getOrElse(0L)
      log(f"run $i: $wall%.3f s")
      Rep(wall, shuffle, heap, out)
    }

    // ---- correctness ----

    private def checkF1(assign: DataFrame): Double = {
      val score = Corpus.pairScore(assign, in.gold)
      check("pairwise_f1", score.f1 >= MinF1,
        f"F1=${score.f1}%.6f P=${score.precision}%.6f R=${score.recall}%.6f " +
        s"tp=${score.tp} pred=${score.predPairs} gold=${score.goldPairs}")
      score.f1
    }

    /** The maintained clusters against a from-scratch run over the
      * remaining corpus, row for row. */
    private def checkMaintained(maintained: DataFrame): Unit = {
      val scratch = fromScratch(in.remaining).select("mention_id", "cluster_id")
      val got = maintained.select("mention_id", "cluster_id")
      val differ = got.exceptAll(scratch).count() + scratch.exceptAll(got).count()
      check("maintained_equals_from_scratch", differ == 0,
        s"${scratch.count()} rows from scratch, $differ differ")
    }

    /** The closed-form F1 against [[Pipeline.pairwiseF1]] on a Demo-sized
      * corpus, which the latter's pair self-join can still afford. */
    private def crossCheckF1(): Map[String, Any] = {
      val cfg = GenConfig(nEntities = 150, nConvs = 300, seed = opts.seed)
      val turns = TranscriptGen.transcripts(spark, cfg).localCheckpoint(true)
      val gold = TranscriptGen.goldMentions(spark, cfg).localCheckpoint(true)
      val dict = TranscriptGen.dict(cfg)
      val clusters = Pipeline.run(turns, dict,
        TranscriptGen.entityVectors(cfg, MentionDetect.CtxDim))
      val blocked = Pipeline.pairwiseF1(clusters, gold, dict)
      val closed = Corpus.pairScore(clusters, gold.toDF())
      check("f1_cross_check", blocked.f1 >= MinF1 && closed.f1 >= MinF1,
        f"Pipeline.pairwiseF1=${blocked.f1}%.6f closed-form=${closed.f1}%.6f")
      ListMap("conversations" -> cfg.nConvs, "pipeline_pairwise_f1" -> blocked.f1,
              "closed_form_f1" -> closed.f1)
    }

    // ---- traced pass ----

    private final class Pass(id: Int) {
      val spans = ArrayBuffer.empty[SpanRec]
      val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      private val parents = Layers.toMap

      /** Runs one layer call and materializes its output inside the span. */
      def layer[T](name: String)(body: => Dataset[T]): (Dataset[T], Long) =
        layerOf(name)(body.localCheckpoint(true))(_.count())

      def layerOf[A](name: String)(body: => A)(rows: A => Long): (A, Long) = {
        val key = s"$name#$id"
        val ((a, n), wall) = Spans.within(sc, key) { val a = body; (a, rows(a)) }
        spans += SpanRec(name, parents(name), key, wall, n)
        (a, n)
      }

      /** Work the tracing itself adds: child inputs and counters. */
      def aux[A](body: => A): A = Spans.within(sc, s"aux#$id")(body)._1

      /** Traced counterpart of one untraced from-scratch run. */
      def runWall: Double = spans.filter(s => RunLayers(s.name)).map(_.wallS).sum
    }

    /** The pass and, for `maintain`, the maintained clusters and the
      * compaction root holding them. */
    private def tracedPass(id: Int): (Pass, Option[(DataFrame, String)]) = {
      val p = new Pass(id)
      val session = spark
      import session.implicits._
      val (turns, _) = p.layer("scan") { spark.read.parquet(corpus.table("turns")).as[Turn] }
      val (ms, nMs) =
        if (wl.joined) {
          val (ms0, _) = p.layer("detect") { Coref.detectAndInheritJoined(turns, in.dictDf) }
          p.layer("resolve") { MentionDetect.resolveJoined(ms0, in.vecDf) }
        } else p.layer("detect") {
          Pipeline.allMentions(turns, sc.broadcast(in.dict), sc.broadcast(in.vecs))
        }
      p.counters("detect.mentions") = nMs.toDouble
      // the cluster layer's public children, re-run on the materialized
      // keyed/edges tables of a bootstrap over the same mentions
      val (st, scoringMs, nScoring) = p.aux {
        val st = Pipeline.bootstrapState(ms)
        val ids = st.keyed.select(col("mid").as("mention_id")).distinct()
        val sms = ms.join(ids, Seq("mention_id"), "left_semi").as[Mention].localCheckpoint(true)
        (st, sms, sms.count())
      }
      p.counters("supernode.scoring_set") = nScoring.toDouble
      p.counters("supernode.collapse") = nMs.toDouble / math.max(1L, nScoring)
      p.layer("blocking.keys") { Blocking.withBlockKeys(scoringMs) }
      val (pairs, nPairs) = p.layer("blocking.pairs") { Blocking.candidatePairs(st.keyed) }
      val (_, nEdges) = p.layer("scoring") {
        Scoring.edges(Blocking.attachPayload(pairs, scoringMs))
      }
      p.counters("scoring.yield") = nEdges.toDouble / math.max(1L, nPairs)
      val (cc, _) = p.layer("clustering") { Clustering.connectedComponents(st.edges.get) }
      val (nClusters, maxCluster) = p.aux {
        val r = cc.groupBy("cluster_id").count()
          .agg(count(lit(1)), coalesce(max(col("count")), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
      p.counters("clustering.clusters") = nClusters.toDouble
      p.counters("clustering.max_cluster") = maxCluster.toDouble
      // after the children: Pipeline.cluster releases the cache of its input
      p.layerOf("cluster") { Pipeline.cluster(ms) }(_.count())

      if (!wl.maintain) (p, None)
      else {
        val ((st1, _), ups) = p.layerOf("increment") {
          val inc = Pipeline.runIncremental(in.delta, in.dict, in.vecs, state)
          (Pipeline.applyIncrement(state, inc), inc.clusterUpserts)
        }(_._2.count())
        p.counters("increment.upserts") = ups.toDouble
        val (ret, rups) = p.layerOf("retract") {
          Pipeline.runRetraction(in.retract, st1)
        }(_.clusterUpserts.count())
        p.counters("retract.upserts") = rups.toDouble
        nCompactions += 1
        val root = Paths.get(opts.work, s"compact-$nCompactions").toString
        val (st3, _) = p.layerOf("compact") {
          Pipeline.compactState(ret.newState, root, label = s"c$nCompactions")
        }(_.clusters.count())
        p.counters("compact.write_mb") = Corpus.sizeBytes(Paths.get(root)) / 1e6
        (p, Some((st3.clusters, root)))
      }
    }

    // ---- the run ----

    def run(): String = {
      val setupS = setup()
      if (opts.trace && wl.maintain) Spans.within(sc, "maintain.bootstrap") {
        state = Pipeline.bootstrapState(
          Pipeline.allMentions(in.base, sc.broadcast(in.dict), sc.broadcast(in.vecs)))
      }
      val t0 = System.nanoTime()
      val reps = ArrayBuffer.empty[Rep]
      val passes = ArrayBuffer.empty[(Pass, Map[String, SpanListener.Work])]
      var maintained: Option[(DataFrame, String)] = None
      var i = 0
      while (i == 0 || (System.nanoTime() - t0) / 1e9 < opts.seconds) {
        attempted += 1
        try reps += repetition(i)
        catch {
          case e: Exception =>
            failed += 1
            failures += s"run $i: $e"
            log(s"run $i FAILED: $e")
        }
        if (opts.trace) {
          maintained.foreach(m => Corpus.deleteTree(Paths.get(m._2)))
          val (pass, m) = tracedPass(i)
          maintained = m
          System.gc()
          passes += ((pass, listener.snapshot(sc)))
          log("traced pass: " + pass.spans.map(x => f"${x.name}=${x.wallS}%.3f").mkString(" "))
        }
        i += 1
      }
      val (f1, crossCheck) = Spans.within(sc, "check") {
        val f1 = reps.lastOption.map(r => checkF1(r.out)).getOrElse(0.0)
        maintained.foreach { case (clusters, root) =>
          checkMaintained(clusters)
          Corpus.deleteTree(Paths.get(root))
        }
        (f1, if (opts.trace) Some(crossCheckF1()) else None)
      }._1

      val metrics: Seq[(String, Double, String)] =
        if (opts.trace) perLayer(passes.toSeq, reps.toSeq)
        else {
          val walls = reps.map(_.wallS).toSeq
          Seq(
            ("run_s", median(walls), "s"),
            ("turns_per_s", if (walls.isEmpty) 0.0 else in.nTurns * walls.size / walls.sum, "1/s"),
            ("setup_s", setupS, "s"),
            ("pairwise_f1", f1, "ratio"),
            ("shuffle_mb", median(reps.map(_.shuffleBytes / 1e6).toSeq), "MB"),
            ("peak_heap_mb", reps.map(_.heapBytes / 1e6).maxOption.getOrElse(0.0), "MB"))
        }
      for (path <- opts.traceOut if opts.trace) {
        val report = traceReport(passes.toSeq, reps.toSeq, setupS, crossCheck)
        Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
        Files.write(Paths.get(path), (report + "\n").getBytes("UTF-8"))
      }
      Json.write(ListMap(
        "correct" -> (failed == 0 && reps.nonEmpty),
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> ListMap(metrics.map { case (k, v, u) =>
          k -> ListMap("value" -> v, "unit" -> u) }: _*)))
    }

    // ---- per-layer metrics and the trace report ----

    private def spanFields(p: Pass, s: SpanRec,
                           work: Map[String, SpanListener.Work]): ListMap[String, Double] = {
      val w = work.getOrElse(s.key, SpanListener.NoWork)
      val taskS = w.taskMs / 1e3
      val childWall = p.spans.filter(_.parent.contains(s.name)).map(_.wallS).sum
      ListMap(
        "wall_s" -> s.wallS,
        "self_s" -> (s.wallS - childWall),
        "task_s" -> taskS,
        "util" -> (if (s.wallS > 0) taskS / (s.wallS * Cores) else 0.0),
        "jobs" -> w.jobs.toDouble,
        "shuffle_mb" -> w.shuffleBytes / 1e6,
        "spill_mb" -> w.spillBytes / 1e6,
        "rows_out" -> s.rowsOut.toDouble)
    }

    /** Traced minus untraced wall time of a from-scratch run (medians). */
    private def tracingOverhead(passes: Seq[(Pass, Map[String, SpanListener.Work])],
                                reps: Seq[Rep]): Double =
      median(passes.map(_._1.runWall)) - median(reps.map(_.wallS))

    /** Every per-layer metric, as medians over the traced passes; a layer
      * the workload does not run reads 0. */
    private def perLayer(passes: Seq[(Pass, Map[String, SpanListener.Work])],
                         reps: Seq[Rep]): Seq[(String, Double, String)] = {
      val fields = passes.map { case (p, w) =>
        p.spans.map(s => s.name -> spanFields(p, s, w)).toMap }
      val layerMetrics = for ((layer, _) <- Layers; (f, unit) <- SpanFields) yield
        (s"$layer.$f", median(fields.map(_.get(layer).map(_(f)).getOrElse(0.0))), unit)
      val counterMetrics = Counters.map { case (c, _) =>
        val unit = if (c.endsWith("_mb")) "MB"
                   else if (c == "supernode.collapse" || c == "scoring.yield") "ratio"
                   else "count"
        (c, median(passes.map(_._1.counters.getOrElse(c, 0.0))), unit)
      }
      layerMetrics ++ counterMetrics :+
        (("trace.overhead_s", tracingOverhead(passes, reps), "s"))
    }

    private def traceReport(passes: Seq[(Pass, Map[String, SpanListener.Work])],
                            reps: Seq[Rep], setupS: Double,
                            crossCheck: Option[Map[String, Any]]): String = {
      val (pass, passWork) = passes.last
      val counterLayer = Counters.toMap
      val spans = pass.spans.map { s =>
        ListMap("name" -> s.name, "parent" -> s.parent) ++ spanFields(pass, s, passWork) ++
          ListMap("counters" -> pass.counters.filter(c => counterLayer(c._1) == s.name)
            .to(ListMap))
      }
      val work = listener.snapshot(sc)
      Json.pretty(ListMap(
        "workload" -> wl.name,
        "seed" -> opts.seed,
        "cores" -> Cores,
        "generator" -> genCfg.toString,
        "turns" -> in.nTurns,
        "setup_s" -> setupS,
        "untraced_run_s" -> reps.map(_.wallS),
        "traced_run_s" -> passes.map(_._1.runWall),
        "tracing_overhead_s" -> tracingOverhead(passes, reps),
        "spans" -> spans,
        "jobs_by_span" -> work.toSeq.sortBy(_._1).map { case (k, w) => k -> w.jobs }
          .to(ListMap),
        "unattributed_jobs" -> work.get(SpanListener.Unattributed).map(_.jobs).getOrElse(0L),
        "f1_cross_check" -> crossCheck,
        "failed_checks" -> failures.toSeq))
    }
  }
}
