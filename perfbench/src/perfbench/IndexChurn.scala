package perfbench

import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Manifest
import graft.llm.{Dedup, GraphAnn, Similarity}

/** The public lifecycle of one persisted index family. `probe` returns
  * (query id, candidate id, score) rows. */
trait IndexFamily {
  def name: String
  def idCol: String
  def write(hist: DataFrame, idx: String): Unit
  def append(delta: DataFrame, idx: String): Unit
  /** Keyed ingest: driven for MinHash, whose keyed ingest is the
    * streaming dedup loop's; the IVF families' is left out to keep a run
    * inside the benchmark's time budget. */
  def ingest: Option[(DataFrame, String, String) => Unit]
  def delete(spark: SparkSession, idx: String, ids: DataFrame): Unit
  /** Compact if needed, or rebuild if unhealthy. */
  def maintain(spark: SparkSession, idx: String): Unit
  def probe(queries: DataFrame, idx: String): Seq[(Long, Long, Double)]
  /** Whether a probe always reaches an exact copy of its query: true for
    * MinHash (a copy shares every band bucket) and IVF (a copy falls in
    * the probed cell); false for the k-NN graph, whose bounded beam walk
    * may stop before it reaches the query's region. */
  def reachesCopies: Boolean = true
}

object IndexFamily {
  private def rows(df: DataFrame, q: String, c: String, s: String) =
    df.select(col(q).cast("long"), col(c).cast("long"), col(s).cast("double"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  val minhash: IndexFamily = new IndexFamily {
    val name = "minhash"
    val idCol = "doc_id"
    def write(h: DataFrame, idx: String): Unit = Dedup.writeMinhashIndex(h, idx,
      numHashes = 32, bands = 8, shingleSize = 5, maxBucketSize = 500)
    def append(d: DataFrame, idx: String): Unit = Dedup.appendToMinhashIndex(d, idx)
    val ingest = Some((b: DataFrame, idx: String, key: String) =>
      Dedup.ingestBatchIntoMinhashIndex(b, idx, key, threshold = 0.9))
    def delete(s: SparkSession, idx: String, ids: DataFrame): Unit =
      Dedup.deleteFromMinhashIndex(s, idx, ids)
    def maintain(s: SparkSession, idx: String): Unit =
      Dedup.compactMinhashIndexIfNeeded(s, idx)
    def probe(q: DataFrame, idx: String) =
      rows(Dedup.incrementalMinhashMatchesIndexed(q, idx), "batch_id", "hist_id", "est_jaccard")
  }

  val ivf: IndexFamily = new IndexFamily {
    val name = "ivf"
    val idCol = "vec_id"
    def write(h: DataFrame, idx: String): Unit = Similarity.writeIvfIndex(h, idx, nlist = 8, trainIters = 1)
    def append(d: DataFrame, idx: String): Unit = Similarity.appendToIvfIndex(d, idx)
    val ingest = None
    def delete(s: SparkSession, idx: String, ids: DataFrame): Unit =
      Similarity.deleteFromIvfIndex(s, idx, ids)
    def maintain(s: SparkSession, idx: String): Unit =
      Similarity.compactIvfIndexIfNeeded(s, idx)
    def probe(q: DataFrame, idx: String) =
      rows(Similarity.ivfTopKIndexed(q, idx, k = 5, nprobe = 4), "query_id", "cand_id", "cos_sim")
  }

  val ivfpq: IndexFamily = new IndexFamily {
    val name = "ivfpq"
    val idCol = "vec_id"
    def write(h: DataFrame, idx: String): Unit =
      Similarity.writeIvfPqIndex(h, idx, nlist = 8, m = 8, ksub = 16, trainIters = 1)
    def append(d: DataFrame, idx: String): Unit = Similarity.appendToIvfPqIndex(d, idx)
    val ingest = None
    def delete(s: SparkSession, idx: String, ids: DataFrame): Unit =
      Similarity.deleteFromIvfPqIndex(s, idx, ids)
    def maintain(s: SparkSession, idx: String): Unit =
      Similarity.compactIvfPqIndexIfNeeded(s, idx)
    def probe(q: DataFrame, idx: String) =
      rows(Similarity.ivfPqTopKIndexed(q, idx, k = 5, nprobe = 4), "query_id", "cand_id", "cos_sim")
  }

  val knngraph: IndexFamily = new IndexFamily {
    val name = "knngraph"
    val idCol = "vec_id"
    def write(h: DataFrame, idx: String): Unit =
      GraphAnn.writeKnnGraphIndex(h, idx, k = 8, rounds = 2)
    def append(d: DataFrame, idx: String): Unit = GraphAnn.appendToKnnGraphIndex(d, idx)
    val ingest = None
    def delete(s: SparkSession, idx: String, ids: DataFrame): Unit =
      GraphAnn.deleteFromKnnGraphIndex(s, idx, ids)
    def maintain(s: SparkSession, idx: String): Unit =
      GraphAnn.rebuildKnnGraphIndexIfUnhealthy(s, idx).collect()
    def probe(q: DataFrame, idx: String) =
      rows(GraphAnn.searchKnnGraphIndexed(q, idx, k = 5, beam = 8, steps = 5),
        "query_id", "cand_id", "sim_key")
    override def reachesCopies = false
  }

  val all: Seq[IndexFamily] = Seq(minhash, ivf, ivfpq, knngraph)
}

/** `index_churn`: the four persisted index families through their public
  * lifecycle. For each family a pass writes the index from a seeded
  * history slice, then appends a delta with twins (copies of history
  * items under fresh ids), runs a keyed ingest and repeats it, deletes a
  * seeded tombstone set, compacts if needed (rebuilds if unhealthy, for
  * the k-NN graph), and probes with the twins, the deleted items and
  * other history items. */
final class IndexChurn extends Workload {
  val name = "index_churn"
  private var docs, vecs: DataFrame = _
  private var nDocs, nVecs = 0
  private var lastDir: Option[JPath] = None
  private val build, update, delete = mutable.ArrayBuffer.empty[Double]
  private val probes = mutable.ArrayBuffer.empty[Double]
  private val twinOffset = 1000000L
  private val probeOffset = 3000000L

  def setup(ctx: Ctx): Unit = {
    // ids 0 until n: the seeded slices below are drawn from them
    val set = Data.datasets("set_a")
    val dir = ctx.dataset(set.name)
    nDocs = set.docs
    nVecs = set.vectors
    docs = ctx.spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    vecs = ctx.spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
  }

  /** Seeded id slices of one pass over ids 0 until n. */
  private final case class Slices(hist: Seq[Long], delta: Seq[Long],
                                  ingest: Seq[Long], twins: Seq[Long],
                                  tomb: Seq[Long], probe: Seq[Long])

  private def slices(ctx: Ctx, n: Int): Slices = {
    val ids = scala.util.Random.javaRandomToRandom(ctx.rnd)
      .shuffle((0L until n.toLong).toVector)
    val hist = ids.take(n * 6 / 10)
    val delta = ids.slice(n * 6 / 10, n * 7 / 10)
    val ingest = ids.slice(n * 7 / 10, n * 3 / 4)
    val twins = hist.take(5)
    val tomb = hist.slice(5, 15)
    Slices(hist, delta, ingest, twins, tomb, twins ++ tomb ++ hist.slice(15, 25))
  }

  private def pick(base: DataFrame, idCol: String, ids: Seq[Long]): DataFrame = {
    import base.sparkSession.implicits._
    base.join(broadcast(ids.toDF(idCol)), idCol)
  }

  private def tiers(idx: String): Map[String, String] =
    Manifest.names(idx).toSeq.map(n => n -> Manifest.resolve(idx, n)).toMap

  private def listing(dir: JPath): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  private def churn(ctx: Ctx, f: IndexFamily, root: JPath, pass: Span,
                    sums: mutable.Map[String, Double]): Unit = {
    val spark = ctx.spark
    val (base, n) = if (f.idCol == "doc_id") (docs, nDocs) else (vecs, nVecs)
    val idx = root.resolve(f.name).toString
    def timed[A](op: String, opId: Long)(body: => A): (Option[A], Span) = {
      val (r, s) = ctx.tracer.timed("index", s"${f.name}.$op", pass)(
        ctx.attempt(opId, s"${f.name}.$op")(body))
      s.attrs ++= Seq("family" -> f.name, "op" -> op)
      val secs = Clock.secs(s.dur)
      sums(op) = sums.getOrElse(op, 0.0) + secs
      if (op == "probe") probes += secs
      (r, s)
    }
    def call[A](op: String, opId: Long)(body: => A): Option[A] = timed(op, opId)(body)._1
    def withTiers(op: String, opId: Long)(body: => Unit): Unit = {
      val before = tiers(idx)
      val (_, s) = timed(op, opId)(body)
      val after = tiers(idx)
      s.attrs("tier_writes") = after.count { case (k, v) => !before.get(k).contains(v) }
    }
    val sl = slices(ctx, n)
    call("write", ctx.op())(f.write(pick(base, f.idCol, sl.hist), idx))
    // twins: exact copies of history items under fresh ids
    val twins = pick(base, f.idCol, sl.twins)
      .withColumn(f.idCol, col(f.idCol) + twinOffset)
    call("append", ctx.op())(f.append(pick(base, f.idCol, sl.delta).unionByName(twins), idx))
    f.ingest.foreach { ingest =>
      val batch = pick(base, f.idCol, sl.ingest)
      call("ingest", ctx.op())(ingest(batch, idx, "delta"))
      val id = ctx.op()
      val before = listing(root.resolve(f.name))
      call("ingest", id)(ingest(batch, idx, "delta"))
      ctx.check(id, listing(root.resolve(f.name)) == before,
        s"${f.name}: a repeated keyed ingest changed the index")
    }
    import spark.implicits._
    withTiers("delete", ctx.op())(f.delete(spark, idx, sl.tomb.toDF(f.idCol)))
    withTiers("compact", ctx.op())(f.maintain(spark, idx))
    // probe with the twins' vectors (each twin must tie for rank 1), the
    // deleted items' (none may come back) and other history items'. A
    // graph walk that reaches neither the twin nor its original is a
    // recall miss of the approximate search, not a wrong answer; one that
    // reaches either must rank the twin first.
    val queries = pick(base, f.idCol, sl.probe)
      .withColumn("probe_of", col(f.idCol))
      .withColumn(f.idCol, col(f.idCol) + probeOffset).cache()
    val probeOf = queries.select(f.idCol, "probe_of").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val id = ctx.op()
    call("probe", id)(f.probe(queries.drop("probe_of"), idx)).foreach { rows =>
      val tomb = sl.tomb.toSet
      val back = rows.filter(r => tomb(r._2))
      ctx.check(id, back.isEmpty, s"${f.name}: probe returned deleted ids ${back.map(_._2)}")
      val byQuery = rows.groupBy(_._1)
      for ((qid, orig) <- probeOf if sl.twins.contains(orig)) {
        val rs = byQuery.getOrElse(qid, Nil)
        val twin = orig + twinOffset
        val reached = f.reachesCopies || rs.exists(r => r._2 == twin || r._2 == orig)
        ctx.check(id, rs.nonEmpty && (!reached ||
          rs.exists(r => r._2 == twin && r._3 >= rs.map(_._3).max - 1e-6)),
          s"${f.name}: twin $twin of $orig not at rank 1: ${rs.sortBy(-_._3).take(3)}")
      }
    }
    queries.unpersist()
    pass.attrs(s"${f.name}.index_mb") = ctx.dirStats(Seq(root.resolve(f.name))).mb
  }

  def pass(ctx: Ctx, pass: Span, index: Int, traced: Boolean): Double = {
    val root = ctx.work.resolve(s"index/pass-$index")
    val sums = mutable.Map.empty[String, Double]
    IndexFamily.all.foreach(f => churn(ctx, f, root, pass, sums))
    pass.end = Clock.now
    build += sums.getOrElse("write", 0.0)
    update += sums.getOrElse("append", 0.0) + sums.getOrElse("ingest", 0.0)
    delete += sums.getOrElse("delete", 0.0) + sums.getOrElse("compact", 0.0)
    lastDir.foreach(ctx.deleteTree)
    lastDir = Some(root)
    sums.values.sum
  }

  def storedMb(ctx: Ctx): Double = lastDir.map(d => ctx.dirStats(Seq(d)).mb).getOrElse(0.0)

  def report(ctx: Ctx): Seq[(String, Double, String)] = Seq(
    ("index_build_s", Report.median(build.toSeq), "s"),
    ("index_update_s", Report.median(update.toSeq), "s"),
    ("index_delete_s", Report.median(delete.toSeq), "s"),
    ("index_probe_s", Report.median(probes.toSeq), "s"))
}
