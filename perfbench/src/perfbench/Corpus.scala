package perfbench

import graft.sources.TranscriptGen
import graft.sources.TranscriptGen.GenConfig
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The generated input tables of one workload, written once as parquet
  * under a directory keyed by every [[GenConfig]] field (the seed among
  * them) and the table layout, so a changed generator setting can never
  * reuse a stale corpus.
  *
  *  - `turns`, `gold`: the transcript corpus and its gold mention labels;
  *  - `dict`, `vecs`: the p(e|m) dictionary and entity vectors as
  *    dimension tables;
  *
  * With `maintenance`, also the maintenance cycle's tables:
  *
  *  - `base`, `delta`: the first [[BaseFrac]] of conversations by conv_id
  *    and the rest (the bootstrap and the increment);
  *  - `retract`: about [[RetractFrac]] of the base conversations' ids;
  *  - `remaining`: the turns left after retracting those from the corpus. */
final case class Corpus(dir: String) {
  def table(name: String): String = s"$dir/$name"
}

object Corpus {
  val Layout = "v2"
  val BaseFrac = 0.9
  val RetractFrac = 0.05

  def key(cfg: GenConfig, maintenance: Boolean): String = {
    val text = s"$Layout|$cfg|maintenance=$maintenance|base=$BaseFrac|retract=$RetractFrac"
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(text.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  /** The corpus for `cfg` under `root`, generated on first use. */
  def ensure(spark: SparkSession, cfg: GenConfig, root: String,
             maintenance: Boolean): Corpus = {
    val dir = Paths.get(root, key(cfg, maintenance))
    if (!Files.exists(dir.resolve("_DONE"))) {
      val tmp = Paths.get(s"$dir.tmp-${ProcessHandle.current().pid()}")
      Files.createDirectories(tmp)
      write(spark, cfg, tmp.toString, maintenance)
      Files.write(tmp.resolve("_CONFIG"), cfg.toString.getBytes("UTF-8"))
      Files.createFile(tmp.resolve("_DONE"))
      try Files.move(tmp, dir)
      catch { case _: java.nio.file.FileAlreadyExistsException => deleteTree(tmp) }
    }
    Corpus(dir.toString)
  }

  private def write(spark: SparkSession, cfg: GenConfig, dir: String,
                    maintenance: Boolean): Unit = {
    import spark.implicits._
    TranscriptGen.transcripts(spark, cfg).write.parquet(s"$dir/turns")
    TranscriptGen.goldMentions(spark, cfg).write.parquet(s"$dir/gold")
    TranscriptGen.dictEntries(cfg).toDS().write.parquet(s"$dir/dict")
    TranscriptGen.entityVectors(cfg, graft.operators.MentionDetect.CtxDim).toSeq
      .toDF("entity", "vec").write.parquet(s"$dir/vecs")
    if (!maintenance) return
    val turns = spark.read.parquet(s"$dir/turns")
    val isBase = col("conv_id") < lit(f"c${(cfg.nConvs * BaseFrac).toInt}%08d")
    turns.where(isBase).write.parquet(s"$dir/base")
    turns.where(!isBase).write.parquet(s"$dir/delta")
    val buckets = math.round(1 / RetractFrac)
    turns.where(isBase).select("conv_id").distinct()
      .where(pmod(xxhash64(col("conv_id"), lit(cfg.seed)), lit(buckets)) === 0)
      .write.parquet(s"$dir/retract")
    turns.join(spark.read.parquet(s"$dir/retract"), Seq("conv_id"), "left_anti")
      .write.parquet(s"$dir/remaining")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def sizeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(x => Files.isRegularFile(x)).mapToLong(x => Files.size(x)).sum()
      finally s.close()
    }

  /** Pairwise precision, recall and F1 of an assignment against gold over
    * ALL pairs of gold mentions the assignment contains, in closed form
    * from the (entity, cluster) contingency counts: true positives are
    * Σ C(n_ec, 2), predicted pairs Σ_c C(n_c, 2), gold pairs Σ_e C(n_e, 2).
    * One grouped count over the mentions, so the cost is linear in them. */
  final case class PairScore(tp: Long, predPairs: Long, goldPairs: Long) {
    def precision: Double = if (predPairs == 0) 1.0 else tp.toDouble / predPairs
    def recall: Double = if (goldPairs == 0) 1.0 else tp.toDouble / goldPairs
    def f1: Double =
      if (precision + recall == 0) 0.0 else 2 * precision * recall / (precision + recall)
  }

  def pairScore(assign: DataFrame, gold: DataFrame): PairScore = {
    val goldIds = gold.select(
      concat(col("conv_id"), lit(":"), format_string("%06d", col("turn_idx")),
             lit(":"), format_string("%06d", col("begin"))).as("mention_id"),
      col("entity"))
    val cells = goldIds.join(assign.select("mention_id", "cluster_id"), "mention_id")
      .groupBy("entity", "cluster_id").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def pairs(ns: Iterable[Long]): Long = ns.iterator.map(n => n * (n - 1) / 2).sum
    PairScore(
      tp = pairs(cells.map(_._3)),
      predPairs = pairs(cells.groupMapReduce(_._2)(_._3)(_ + _).values),
      goldPairs = pairs(cells.groupMapReduce(_._1)(_._3)(_ + _).values))
  }
}
