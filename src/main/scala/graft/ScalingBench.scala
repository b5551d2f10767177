package graft

import graft.sources.TranscriptGen
import org.apache.spark.sql.SparkSession

/** Two-parallelism scaling evidence (BASELINE.md protocol): the identical
  * end-to-end pipeline on identical on-disk input at local[N] and
  * local[4N], one discarded warm-up per level, efficiency =
  * (thr_4N/thr_N)/4.
  *
  * One LEVEL per JVM: `sbt "runMain graft.ScalingBench 8"` then
  * `sbt "runMain graft.ScalingBench 32"`. A shared JVM leaks heap/GC
  * state across levels (measured: the same run is 2× slower after another
  * level ran first), and separate JVMs are also what real N- and
  * 4N-executor clusters are. Combine the two JSON lines with
  * tools/scaling_report.py.
  *
  * This is the sandbox stand-in for the north rule's "N and 4N executors"
  * criterion (no real cluster exists here — see BASELINE.md §scaling). */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val cpus = args.headOption.getOrElse("8").toInt
    val cfg = TranscriptGen.GenConfig(
      nEntities = 2000,
      nConvs = sys.env.getOrElse("GRAFT_SCALE_CONVS", "4000000").toInt)
    // warm-up corpus: same shape, 1/8 size — JIT + codegen warm at a
    // fraction of the cost (corpus size is irrelevant to compilation)
    val warmCfg = cfg.copy(nConvs =
      sys.env.getOrElse("GRAFT_WARMUP_CONVS", (cfg.nConvs / 8).toString).toInt)

    // generate once (untimed); reused across invocations via the path
    val gen = Bench.benchSession("32")
    val path = Bench.ensureCorpus(gen, cfg)
    val warmPath = Bench.ensureCorpus(gen, warmCfg)
    gen.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()

    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def oneRun(p: String, c: TranscriptGen.GenConfig): (Double, Long, Long) = {
      val spark = Bench.benchSession(cpus.toString)
      val gc0 = gcMillis()
      val (secs, turns, _) = Bench.runPipeline(spark, p, c)
      val gcMs = gcMillis() - gc0
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      (secs, turns, gcMs)
    }
    // ONE timed run per JVM after one small-corpus warm-up: measured
    // intra-JVM drift is large (a second identical 26M-turn run in the
    // same JVM swung 41s → 190s — G1 heap state left by the previous
    // run's blocks), and separate fresh JVMs are also what real N- and
    // 4N-executor clusters get. The wrapper script repeats whole-JVM
    // invocations per level (alternating levels) and takes the best.
    val (warm, _, _) = oneRun(warmPath, warmCfg) // discarded JIT warm-up
    val (secs, turns, gcMs) = oneRun(path, cfg)
    val thr = turns / secs
    println(f"""{"metric":"scaling_level","cpus":$cpus,"secs":$secs%.2f,""" +
            f""""turns":$turns,"turns_per_sec":$thr%.1f,"warmup_secs":$warm%.2f,""" +
            s""""gc_ms":$gcMs,"n_convs":${cfg.nConvs}}""")
  }
}
