package perfbench

import graft.{Dedup, DedupConfig, Queries}
import graft.kernels.{ExactSim, Hashing, Shingler}
import graft.operators.{CandidatePairs, ConnectedComponents, Knn}
import graft.plans.CheckpointedPipeline
import graft.sources.{TranscriptGen, Turn}
import graft.streaming.StreamingDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Path
import java.sql.Timestamp

/** The sorted output rows of one operation, one tab-separated line each. */
final case class Output(lines: Array[String]) {
  lazy val digest: String = Util.sha256(lines.mkString("\n"))
}

/** What the program is given: the row count and a content hash of the input
  * tables, and how many input items (turns or queries) one operation covers.
  */
final case class Inputs(rows: Long, digest: String, items: Long, itemUnit: String)

/** The workload-specific correctness verdict on one output. */
final case class Check(errors: Seq[String], recall: Double)

/** One benchmark workload. The program sees only the parquet tables that
  * [[setup]] writes; [[op]] is one untraced call through the public entry
  * point, [[staged]] the traced replay that calls each layer itself.
  */
abstract class Workload(val spark: SparkSession, val dir: Path, val seed: Long,
                        gen: Map[String, String]) {
  def name: String
  /** The generator arguments the workload takes (see [[Workload.apply]]). */
  def genArgs: Set[String]
  /** Generates the inputs and writes them as parquet. */
  def setup(): Inputs
  /** One-off set-up after [[setup]] (the daily_append index build). */
  def prepare(): Unit = ()
  def beforeOp(): Unit = ()
  def op(): Output
  /** Untimed bookkeeping after each [[op]]: per-layer figures only an
    * untraced run can give. */
  def afterOp(): Map[String, Double] = Map.empty
  /** `thorough` adds the checks too costly for every untimed run; the
    * traced run makes them. */
  def check(out: Output, thorough: Boolean): Check
  /** The traced replay; `cm` receives the candidate scan's skew counters. */
  def staged(t: Tracer, cm: CandidatePairs.CandidateMetrics): Output
  def kernelSample: KernelSample
  /** Untimed operations before timing starts. A fresh JVM keeps getting
    * faster for several operations while the JIT compiles the hot paths; a
    * count rather than a time keeps the timed operations equally warm on a
    * slow and on a fast host. */
  def warmupOps: Int = 3
  /** The per-layer name of [[op]] itself, when the untraced operation is one
    * layer's public call. */
  def opLayer: Option[String] = None

  protected def genInt(key: String, default: Int): Int = gen.get(key).map(_.toInt).getOrElse(default)
  protected def path(name: String): String = dir.resolve(name).toString
  /** Writes one parquet file per partition of `df`. */
  protected def writeTable(df: DataFrame, name: String): Unit =
    df.write.mode("overwrite").parquet(path(name))
  /** Driver-side rows as a DataFrame of [[Workload.InputFiles]] partitions. */
  protected def distributed[T <: Product: scala.reflect.ClassTag: scala.reflect.runtime.universe.TypeTag](rows: Seq[T]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, Workload.InputFiles))
  protected def read(name: String): DataFrame = spark.read.parquet(path(name))
}

object Workload {
  val Names: Seq[String] = Seq("full_build", "dup_dense", "daily_append", "knn_batch")

  /** Input tables are written as this many files (one scan task per core
    * and then some), not as one file per generating task. */
  val InputFiles = 16

  /** The workload `name`, with its input sizes overridden by the generator
    * arguments in `gen`; an argument the workload does not take is an error. */
  def apply(name: String, spark: SparkSession, dir: Path, seed: Long, gen: Map[String, String]): Workload = {
    val wl = name match {
      case "full_build"   => new FullBuild(spark, dir, seed, gen)
      case "dup_dense"    => new DupDense(spark, dir, seed, gen)
      case "daily_append" => new DailyAppend(spark, dir, seed, gen)
      case "knn_batch"    => new KnnBatch(spark, dir, seed, gen)
      case other => throw new IllegalArgumentException(s"unknown workload '$other' (one of ${Names.mkString(", ")})")
    }
    val unknown = gen.keySet -- wl.genArgs
    require(unknown.isEmpty, s"$name takes no ${unknown.map("--" + _).mkString(", ")} " +
      s"(its generator arguments: ${wl.genArgs.toSeq.sorted.map("--" + _).mkString(", ")})")
    wl
  }

  def clusterLines(df: DataFrame): Output =
    Output(df.select("conv_id", "cluster_id").collect().map(r => r.getString(0) + "\t" + r.getString(1)).sorted)

  def labels(out: Output): Map[String, String] =
    out.lines.iterator.map { l => val i = l.indexOf('\t'); l.substring(0, i) -> l.substring(i + 1) }.toMap

  /** Materializes a layer's output at a span boundary. */
  def mat(df: DataFrame): (DataFrame, Long) = {
    val m = df.localCheckpoint(eager = true)
    (m, m.count())
  }

  /** Row count + order-independent content hash of a table. */
  def tableDigest(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.columns.toSeq.map(col): _*)
    val r = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).first()
    (r.getLong(0), f"${r.getLong(1)}%016x${Hashing.hashString(String.valueOf(r.get(2)))}%016x")
  }

  /** `Dedup.pipeline`, one layer at a time with a span around each call. */
  def stagedPipeline(t: Tracer, spark: SparkSession, turns: => DataFrame, nTurns: Long, cfg: DedupConfig,
                     cm: CandidatePairs.CandidateMetrics): Output = {
    val (docs, nDocs) = t.span("assembly", nTurns)(mat(Dedup.documents(turns)))
    val (sigs, nSigs) = t.span("signatures", nDocs)(mat(Dedup.signatures(spark, docs, cfg)))
    val (groups, nGroups) = t.span("repgroups", nSigs)(mat(Dedup.repGroups(sigs)))
    val repBands = groups.select(col("rep").as("conv_id"), col("bands"))
    val (cands, nCands) = t.span("candidates", nGroups)(mat(Dedup.candidates(repBands, cfg, Some(cm))))
    val (verified, nVerified) = t.span("verify", nCands)(mat(Dedup.verify(cands, sigs, cfg)))
    val (repClusters, _) = t.span("cc", nVerified)(
      mat(ConnectedComponents.assign(groups.select(col("rep").as("conv_id")), verified)))
    t.span("joinback", nSigs) {
      val out = clusterLines(Dedup.mappingFrom(sigs, groups)
        .join(repClusters.withColumnRenamed("conv_id", "rep").select(col("rep"), col("cluster_id")), Seq("rep")))
      (out, out.lines.length.toLong)
    }._1
  }

  /** Share of `pairs` whose two members carry one cluster label. */
  def pairRecall(pairs: Seq[(String, String)], labels: Map[String, String]): Double =
    if (pairs.isEmpty) 1.0
    else pairs.count { case (a, b) => labels.get(a).exists(labels.get(b).contains) }.toDouble / pairs.size

  /** Random word substitution at rate `p` — the near-duplicate generator of
    * the benchmark's own workloads. */
  def substitute(text: String, p: Double, rng: java.util.Random): String =
    text.split(' ').map(w => if (rng.nextDouble() < p) "w" + rng.nextInt(5000) else w).mkString(" ")

  /** `size` near-duplicates of one random `tokens`-word text, each with its
    * words substituted at rate `p`: at a low rate one LSH bucket per band
    * holds most of the family. */
  def family(seed: Long, f: Int, size: Int, tokens: Int, p: Double): Seq[String] = {
    val base = new java.util.Random(Hashing.mix64(seed, f.toLong))
    val text = Seq.fill(tokens)("w" + base.nextInt(5000)).mkString(" ")
    (0 until size).map(j => substitute(text, p, new java.util.Random(Hashing.mix64(Hashing.mix64(seed, f.toLong), j.toLong + 1))))
  }

  /** A document as short turns of 50 words each. */
  def shortTurns(convId: String, text: String): Seq[Turn] =
    turnRows(convId, text.split(' ').grouped(50).map(_.mkString(" ")).toSeq)

  def turnRows(convId: String, texts: Seq[String]): Seq[Turn] =
    texts.zipWithIndex.map { case (text, i) =>
      Turn(convId, i, TranscriptGen.Roles(i % 3), text, null, new Timestamp(1700000000000L + i * 60000L))
    }
}

import Workload._

/** The planted `TranscriptGen` corpus through `Dedup.pipeline`: the flagship
  * job. Its hard-negative families stay far below `bucketCap`, so the
  * salted hot-bucket path is never taken. */
final class FullBuild(spark: SparkSession, dir: Path, seed: Long, gen: Map[String, String])
    extends Workload(spark, dir, seed, gen) {
  val name = "full_build"
  val genArgs: Set[String] = Set.empty
  private val nConvs = 5000
  private val cfg = DedupConfig()
  private var nTurns = 0L

  def setup(): Inputs = {
    writeTable(TranscriptGen.df(spark, nConvs, seed, Workload.InputFiles), "turns")
    val (rows, digest) = tableDigest(read("turns"))
    nTurns = rows
    Inputs(rows, digest, rows, "turns")
  }

  def op(): Output = clusterLines(Dedup.pipeline(spark, read("turns"), cfg))

  /** Planted dup-pair recall: every pair of conversations that the generator
    * planted in one duplicate group must share a cluster. */
  def check(out: Output, thorough: Boolean): Check = {
    val byKey = (0L until nConvs).groupBy(TranscriptGen.plantedClusterKey).filter(_._1.startsWith("dup-"))
    val pairs = byKey.values.toSeq.flatMap { idx =>
      val ids = idx.map(i => f"conv-$i%08d")
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }
    val labels = Workload.labels(out)
    val errors = if (labels.size != nConvs) Seq(s"${labels.size} labeled convs, expected $nConvs") else Nil
    Check(errors, pairRecall(pairs, labels))
  }

  def staged(t: Tracer, cm: CandidatePairs.CandidateMetrics): Output =
    stagedPipeline(t, spark, read("turns"), nTurns, cfg, cm)

  def kernelSample: KernelSample =
    KernelSample((0L until 300L).map(i => TranscriptGen.turnsFor(seed, i).map(_.text).mkString("\n")).toArray, Array.empty)
}

/** Families of distinct near-duplicates, each larger than `bucketCap`, in
  * short documents: the candidate scan's salted block join, verify and
  * connected components do most of the work, the signature kernel little. */
final class DupDense(spark: SparkSession, dir: Path, seed: Long, gen: Map[String, String])
    extends Workload(spark, dir, seed, gen) {
  val name = "dup_dense"
  val genArgs: Set[String] = Set("families", "family-size")
  private val families = genInt("families", 2)
  private val familySize = genInt("family-size", 640)
  private val cfg = DedupConfig()
  private var nTurns = 0L
  private var texts: Array[String] = Array.empty
  private var exactPairs: Seq[(String, String)] = Nil

  def setup(): Inputs = {
    // 200-word documents at 2 % word substitution
    val docs = (0 until families).flatMap { f =>
      family(seed, f, familySize, 200, 0.02).zipWithIndex.map { case (text, j) => (f"fam$f%03d-$j%05d", text) }
    }
    texts = docs.map(_._2).toArray
    writeTable(distributed(docs.flatMap { case (id, text) => shortTurns(id, text) }), "turns")
    val (rows, digest) = tableDigest(read("turns"))
    nTurns = rows
    Inputs(rows, digest, rows, "turns")
  }

  /** Ground truth for [[check]]: every pair with exact Jaccard ≥ θ, from the
    * program's own brute-force oracle. Computed once, outside all timing. */
  def groundTruth(): Unit = {
    val sigs = Dedup.signatures(spark, Dedup.documents(read("turns")), cfg)
    exactPairs = Dedup.exactAllPairs(sigs, cfg.theta).select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
  }

  def op(): Output = clusterLines(Dedup.pipeline(spark, read("turns"), cfg))

  def check(out: Output, thorough: Boolean): Check = {
    if (exactPairs.isEmpty) groundTruth()
    val recall = pairRecall(exactPairs, labels(out))
    Check(if (recall < 0.99) Seq(f"pair recall $recall%.4f < 0.99 vs exact all-pairs") else Nil, recall)
  }

  def staged(t: Tracer, cm: CandidatePairs.CandidateMetrics): Output =
    stagedPipeline(t, spark, read("turns"), nTurns, cfg, cm)

  def kernelSample: KernelSample = KernelSample(texts.take(300), Array.empty)
}

/** `CheckpointedPipeline.append` of a new batch onto an index built in set-up
  * and restored from a pristine copy before every operation. Part of the
  * batch near-duplicates index conversations, so new×old edges bridge into
  * old clusters; another part is one family of near-duplicates larger than
  * `bucketCap`, so the candidate scan takes its salted hot-bucket path. */
final class DailyAppend(spark: SparkSession, dir: Path, seed: Long, gen: Map[String, String])
    extends Workload(spark, dir, seed, gen) {
  val name = "daily_append"
  val genArgs: Set[String] = Set("index-convs", "batch-convs")
  private val indexConvs = genInt("index-convs", 2000)
  private val batchConvs = genInt("batch-convs", 500)
  /** The hot family: 60 copies of one 200-word text at 1 % word
    * substitution, on top of `batch-convs`. `bucketCap` is scaled down with
    * the batch, as `Buckets` is: the default of 512 is sized for corpora of
    * millions, and a family above it would cost more than the rest of the
    * operation. */
  private val HotFamily = 60
  private val cfg = DedupConfig(bucketCap = 32)
  private var nBatchTurns = 0L
  private var planted: Seq[(String, String)] = Nil
  private var hotIds: Seq[String] = Nil
  private var batchDocs: Map[String, String] = Map.empty
  private var lastStages: Seq[CheckpointedPipeline.StageInfo] = Nil
  private var before: Map[Path, (Long, Long)] = Map.empty

  /** Signature buckets of the checkpoint: one per input file, as the index
    * is small (the default of 64 is sized for indexes of millions). */
  private val Buckets = Workload.InputFiles

  override def opLayer: Option[String] = Some("ckpt")
  /** [[prepare]]'s index build has already run the shared operators. */
  override def warmupOps: Int = 1

  private def pristine = dir.resolve("index-pristine")
  private def live = dir.resolve("index-live")

  def setup(): Inputs = {
    writeTable(TranscriptGen.df(spark, indexConvs, seed, Workload.InputFiles), "index-turns")
    // the batch: fresh TranscriptGen conversations (with their own planted
    // groups), plus near-copies (1 % word substitution) of index convs
    val nCopies = (batchConvs * 0.3).toInt
    val rng = new java.util.Random(Hashing.mix64(seed, 0x0ddba11L))
    val sources = Iterator.continually(rng.nextInt(indexConvs / 10) * 10L + rng.nextInt(4)).distinct.take(nCopies).toSeq
    val copies = sources.zipWithIndex.map { case (src, i) =>
      val id = f"new-$i%08d"
      val texts = TranscriptGen.turnsFor(seed, src).map(t => substitute(t.text, 0.01, rng))
      (f"conv-$src%08d", id, texts)
    }
    planted = copies.map { case (src, id, _) => (src, id) }
    val hot = family(seed, -1, HotFamily, 200, 0.01).zipWithIndex.map { case (text, j) => (f"hot-$j%05d", text) }
    hotIds = hot.map(_._1)
    val fresh = (indexConvs.toLong until (indexConvs + batchConvs - nCopies).toLong).flatMap(TranscriptGen.turnsFor(seed, _))
    val batch = fresh ++ copies.flatMap { case (_, id, texts) => turnRows(id, texts) } ++
      hot.flatMap { case (id, text) => shortTurns(id, text) }
    batchDocs = batch.groupBy(_.conv_id).map { case (id, ts) => id -> ts.sortBy(_.turn_idx).map(_.text).mkString("\n") }
    writeTable(distributed(batch), "batch-turns")
    val (rows, digest) = tableDigest(read("batch-turns"))
    val (indexRows, indexDigest) = tableDigest(read("index-turns"))
    nBatchTurns = rows
    Inputs(rows + indexRows, Util.sha256(digest + indexDigest).take(32), rows, "turns")
  }

  override def prepare(): Unit = {
    Util.deleteTree(pristine)
    CheckpointedPipeline.run(spark, read("index-turns"), cfg, pristine.toString, Buckets)
  }

  override def beforeOp(): Unit = {
    Util.deleteTree(live)
    Util.copyTree(pristine, live)
    before = Util.fileSizes(live)
  }

  def op(): Output = {
    val (out, stages) = CheckpointedPipeline.append(spark, read("batch-turns"), cfg, live.toString, Buckets)
    lastStages = stages
    clusterLines(out)
  }

  override def afterOp(): Map[String, Double] = {
    val written = Util.fileSizes(live).collect { case (p, s) if !before.get(p).contains(s) => s._1 }.sum
    val inputBytes = Util.fileSizes(dir.resolve("batch-turns")).values.map(_._1).sum
    lastStages.map(s => s"ckpt.${s.name}_s" -> s.wallSec).toMap ++ Map(
      "ckpt.write_mb" -> written / 1048576.0,
      "ckpt.write_amp" -> written.toDouble / inputBytes)
  }

  /** The planted new×old pairs, and the hot family's pairs, must land in
    * one cluster (each counting only pairs with exact Jaccard ≥ θ) and, when
    * `thorough`, the combined labeling must equal `Dedup.pipeline` over
    * old ∪ new. */
  def check(out: Output, thorough: Boolean): Check = {
    val errors = if (!thorough) Nil else {
      val full = clusterLines(Dedup.pipeline(spark, read("index-turns").unionByName(read("batch-turns")), cfg))
      if (full.digest != out.digest) Seq("append labeling differs from Dedup.pipeline over old ∪ new") else Nil
    }
    val labeled = labels(out)
    val recall = pairRecall(planted.filter { case (a, b) => nearDup(a, b) }, labeled)
    val hotRecall = pairRecall(for (a <- hotIds; b <- hotIds if a < b && nearDup(a, b)) yield (a, b), labeled)
    Check(errors ++ (if (recall < 0.99) Seq(f"new×old recall $recall%.4f < 0.99") else Nil) ++
      (if (hotRecall < 0.99) Seq(f"hot-family pair recall $hotRecall%.4f < 0.99") else Nil), recall)
  }

  /** Whether two documents are near-duplicates (exact Jaccard ≥ θ): one
    * substitution in a very short conversation can push a planted copy
    * below. */
  private def nearDup(a: String, b: String): Boolean = ExactSim.jaccard(shingles(a), shingles(b)) >= cfg.theta

  private val shingleCache = scala.collection.mutable.HashMap.empty[String, Array[Long]]
  private def shingles(id: String): Array[Long] =
    shingleCache.getOrElseUpdate(id, Shingler.shingles(docText(id), cfg.shingleK, cfg.shingleMode, cfg.seed))

  /** `append`'s computation re-derived through the public layer functions,
    * one call at a time and serially, against the pristine index (which
    * `append` leaves untouched). It leaves out what `append` adds around
    * them: its gates, its two-thread pool, the bucket column, the parquet
    * append and the lineage writes. */
  def staged(t: Tracer, cm: CandidatePairs.CandidateMetrics): Output = {
    val (docs, nDocs) = t.span("assembly", nBatchTurns)(mat(Dedup.documents(read("batch-turns"))))
    val (newSigs, nNew) = t.span("signatures", nDocs)(mat(Dedup.signatures(spark, docs, cfg)))
    val (groups, nGroups) = t.span("repgroups", nNew)(mat(Dedup.repGroups(newSigs)))
    val repBands = groups.select(col("rep").as("conv_id"), col("bands"))
    val (cands, nCands) = t.span("candidates", nGroups)(mat(Dedup.candidates(repBands, cfg, Some(cm))))
    val (newNew, nNewNew) = t.span("verify", nCands)(
      mat(Dedup.verify(cands, newSigs, cfg).select(col("id_a"), col("id_b"))))
    val (newOld, nNewOld) = t.span("index_join", nGroups) {
      val oldSigs = spark.read.parquet(pristine.resolve("signatures").toString)
      val newRepSigs = newSigs.join(groups.select(col("rep").as("conv_id")), Seq("conv_id"), "left_semi")
      val oldRepIds = oldSigs.groupBy(col("set_hash")).agg(min(col("conv_id")).as("rep")).select(col("rep").as("conv_id"))
      val oldRepSigs = oldSigs.join(oldRepIds, Seq("conv_id"), "left_semi")
      mat(StreamingDedup.nearDupVerified(newRepSigs, oldRepSigs, cfg)
        .select(col("conv_id").as("id_a"), col("matched_id").as("id_b")))
    }
    // the member→rep expansion: append joins it back as star edges
    val (mapping, _) = t.span("joinback", nNew)(mat(Dedup.mappingFrom(newSigs, groups)))
    t.span("cc", nNewNew + nNewOld) {
      val prior = spark.read.parquet(pristine.resolve("clusters").toString)
      val starOld = prior.filter(col("conv_id") =!= col("cluster_id"))
        .select(col("conv_id").as("id_a"), col("cluster_id").as("id_b"))
      val starNew = mapping.filter(col("conv_id") =!= col("rep"))
        .select(col("conv_id").as("id_a"), col("rep").as("id_b"))
      val edges = newNew.unionByName(newOld).unionByName(starOld).unionByName(starNew).localCheckpoint(eager = true)
      val vertices = prior.select(col("conv_id")).unionByName(newSigs.select(col("conv_id")))
      val out = clusterLines(ConnectedComponents.assign(vertices, edges))
      (out, out.lines.length.toLong)
    }._1
  }

  private def docText(id: String): String = batchDocs.getOrElse(id,
    TranscriptGen.turnsFor(seed, id.stripPrefix("conv-").toLong).map(_.text).mkString("\n"))

  def kernelSample: KernelSample = KernelSample(batchDocs.toSeq.sortBy(_._1).take(300).map(_._2).toArray, Array.empty)
}

/** A seeded 64-d embedding corpus with planted neighbours, queried top-10
  * through `Queries.run` with `ExactKnn` and `CosineLshKnn`. The query side
  * is caller-sized: the queries are the corpus rows with `vec_id < queries`. */
final class KnnBatch(spark: SparkSession, dir: Path, seed: Long, gen: Map[String, String])
    extends Workload(spark, dir, seed, gen) {
  val name = "knn_batch"
  val genArgs: Set[String] = Set("corpus", "queries")
  private val corpusSize = genInt("corpus", 10000)
  private val queries = genInt("queries", 64)
  private val planted = 12
  private val dims = 64
  private val k = 10
  private var vectors: Array[Array[Float]] = Array.empty

  private def queryFilter(df: DataFrame): DataFrame = df.filter(col("vec_id") < queries)

  def setup(): Inputs = {
    val rng = new java.util.Random(Hashing.mix64(seed, 0x6b6e6eL))
    def gaussian(): Array[Float] = Array.fill(dims)(rng.nextGaussian().toFloat)
    val qs = Array.fill(queries)(gaussian())
    // query q's planted neighbours sit at ids queries + q*planted + j, each
    // at its own noise level so their ranks are well separated
    val near = for (q <- 0 until queries; j <- 0 until planted) yield {
      val sigma = 0.05f + 0.02f * j
      qs(q).map(x => x + sigma * rng.nextGaussian().toFloat)
    }
    vectors = qs ++ near ++ Array.fill(corpusSize - queries - near.size)(gaussian())
    writeTable(distributed(vectors.indices.map(i => (i.toLong, vectors(i)))).toDF("vec_id", "embedding"), "corpus")
    val (rows, digest) = tableDigest(read("corpus"))
    Inputs(rows, digest, queries.toLong, "queries")
  }

  private def knnLines(tag: String, df: DataFrame): Array[String] =
    df.select("q_id", "rank", "n_id").collect().map(r => s"$tag\t${r.getLong(0)}\t${r.getInt(1)}\t${r.getLong(2)}")

  private def output(exact: Array[String], lsh: Array[String]): Output = Output((exact ++ lsh).sorted)

  def op(): Output = {
    val corpus = read("corpus")
    output(knnLines("exact", Queries.run(spark, corpus, Queries.ExactKnn(k, queryFilter))),
      knnLines("lsh", Queries.run(spark, corpus, Queries.CosineLshKnn(k, queriesFilter = queryFilter, dims = dims))))
  }

  /** Exact top-k against a driver-side brute force on a query sample (same
    * arithmetic, same (sim desc, id asc) order, self excluded), and LSH
    * recall@k against the exact answer. */
  def check(out: Output, thorough: Boolean): Check = {
    def ranked(tag: String): Map[Long, Seq[Long]] =
      out.lines.iterator.map(_.split('\t')).filter(_(0) == tag).toSeq
        .groupBy(_(1).toLong).map { case (q, rows) => q -> rows.sortBy(_(2).toInt).map(_(3).toLong) }
    val exact = ranked("exact")
    val lsh = ranked("lsh")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var n1 = 0.0; var n2 = 0.0; var i = 0
      while (i < a.length) { val x = a(i).toDouble; val y = b(i).toDouble; dp += x * y; n1 += x * x; n2 += y * y; i += 1 }
      dp / math.sqrt(n1 * n2)
    }
    val sample = (0 until queries by math.max(1, queries / 8)).map(_.toLong)
    val mismatches = sample.filter { q =>
      val brute = vectors.indices.filter(_ != q).map(n => (cos(vectors(q.toInt), vectors(n)), n.toLong))
        .sortWith { (a, b) => val c = java.lang.Double.compare(a._1, b._1); c > 0 || (c == 0 && a._2 < b._2) }
        .take(k).map(_._2)
      !exact.get(q).contains(brute)
    }
    val hits = exact.map { case (q, ns) => ns.count(lsh.getOrElse(q, Nil).toSet) }.sum
    val total = exact.values.map(_.size).sum
    val errors = (if (exact.size != queries) Seq(s"exact answered ${exact.size} of $queries queries") else Nil) ++
      (if (mismatches.nonEmpty) Seq(s"exact top-$k differs from brute force for queries ${mismatches.mkString(",")}") else Nil)
    Check(errors, if (total == 0) 0.0 else hits.toDouble / total)
  }

  def staged(t: Tracer, cm: CandidatePairs.CandidateMetrics): Output = {
    val (exact, _) = t.span("knn.exact", queries.toLong) {
      val corpus = read("corpus")
      val l = knnLines("exact", Knn.exactTopK(queryFilter(corpus), corpus, k)); (l, l.length.toLong)
    }
    val (lsh, _) = t.span("knn.lsh", queries.toLong) {
      val corpus = read("corpus")
      val l = knnLines("lsh", Knn.lshTopK(spark, queryFilter(corpus), corpus, k, numTables = 32, rowsPerBand = 8, dims = dims))
      (l, l.length.toLong)
    }
    output(exact, lsh)
  }

  def kernelSample: KernelSample = KernelSample(Array.empty, vectors.take(600))
}
