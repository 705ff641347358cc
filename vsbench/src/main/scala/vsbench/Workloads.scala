package vsbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.FlatVectorIndex
import graft.core.Metric
import graft.operators.{GraphLayout, KMeans, Vamana, VamanaKernel}
import graft.operators.VamanaKernel.BuildParams

/** A query batch: pool queries carry their pool index as query id; a
  * self-query of an added row carries `SelfBase + row id`. */
final case class Batch(ids: Array[Long], vecs: Array[Array[Float]]) {
  def size: Int = ids.length
}

/** One read's verdict: a failure message, or the recall summed over the
  * batch's queries that have a known truth. */
final case class Verdict(failure: Option[String], recallSum: Double,
                         recallN: Int)

/** Timings of one index set-up, in seconds; absent layers stay 0. */
final case class SetupTimes(total: Double, trainS: Double = 0,
                            assignS: Double = 0, buildS: Double = 0,
                            buildDistCalls: Long = 0, writeS: Double = 0,
                            openMs: Double = 0)

/** What one upsert changed on disk. */
final case class UpsertStats(wallMs: Double, rows: Int, userBytes: Long,
                             shardsTouched: Int, filesRewritten: Int,
                             bytesWritten: Long)

abstract class Workload(val spark: SparkSession, val seed: Long,
                        val work: java.nio.file.Path) {
  import Workload._

  def name: String
  def mixture: Mixture
  def n: Int
  def poolSize: Int
  def batchSize: Int
  def setupReps: Int
  /** Answers must equal the exact k-NN (not just be valid neighbours). */
  def exact: Boolean = false
  /** Generator and index parameters, as JSON values. */
  def params: Seq[(String, String)]

  val metric: Metric = Metric.simd(Metric.L2)
  lazy val corpusPath: String = work.resolve("corpus.parquet").toString
  lazy val queriesPath: String = work.resolve("queries.parquet").toString

  /** Live rows: id → vector, as the harness believes the store holds. */
  val live = mutable.LongMap.empty[Array[Float]]
  val deleted = mutable.Set.empty[Long]
  var pool: Array[Array[Float]] = _
  var truth: Array[Array[(Long, Double)]] = _

  /** Write the program's input files and compute the exact truth. */
  def prepare(): Unit = {
    val mx = mixture
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("vec", ArrayType(FloatType, false), false)))
    val rdd = spark.sparkContext.parallelize(0 until n, Main.Cores).map { i =>
      Row(i.toLong, mx.row(Mixture.Corpus, i).toSeq)
    }
    spark.createDataFrame(rdd, schema).write.parquet(corpusPath)
    (0 until n).foreach(i => live(i.toLong) = mx.row(Mixture.Corpus, i))
    pool = mx.rows(Mixture.Queries, poolSize)
    frame(Batch(pool.indices.map(_.toLong).toArray, pool))
      .write.parquet(queriesPath)
    truth = truthFor(pool)
  }

  def truthFor(qs: Array[Array[Float]]): Array[Array[(Long, Double)]] = {
    val ids = live.keys.toArray.sorted
    Oracle.truth(qs, ids, ids.map(live), K, Main.Cores)
  }

  /** One timed set-up; the last one's index is the one served. */
  def setup(rep: Int, traced: Boolean): SetupTimes
  /** The read call: returns the result frame, not yet collected. */
  def read(b: Batch): DataFrame
  /** The next read batch, drawn from the workload's seeded stream. */
  def nextBatch(): Batch = {
    val ids = Iterator.continually(batchRng.nextInt(poolSize).toLong)
      .distinct.take(batchSize).toArray
    Batch(ids, ids.map(i => pool(i.toInt)))
  }
  protected lazy val batchRng = mixture.choices(Mixture.Batches)

  def hasUpserts: Boolean = false
  /** An upsert is due before the next read. */
  def upsertDue: Boolean = false
  /** Run one upsert; `timeCall` runs and times the program call, in ms. */
  def upsert(timeCall: (() => Unit) => Double): UpsertStats =
    sys.error(s"$name has no upserts")
  /** Recall measured once after the timed phase, if the workload has one,
    * with the number of read calls it made. Wrong answers go to `onWrong`,
    * calls that throw to `onError`. */
  def finalRecall(onWrong: String => Unit,
                  onError: String => Unit): Option[(Double, Int)] = None

  def storeBytes: Long
  def rawVecBytes: Long = live.size.toLong * mixture.dims * 4
  /** Shards a batch probes (graph workloads), with the probe's wall ms. */
  def probe(b: Batch): Option[(Set[Long], Double)] = None
  def emptyCentroids: Int = 0
  /** Greedy-walk cost over one stored shard, µs per query. */
  def walkUsPerQuery(): Double = 0.0

  def frame(b: Batch): DataFrame = {
    val rows = b.ids.indices.map(i => Row(b.ids(i), b.vecs(i).toSeq))
    spark.createDataFrame(rows.asJava, QuerySchema)
  }

  /** Check a read's rows: k distinct live ids per query, distances equal
    * to a recomputation, no deleted id, an exact answer where the
    * workload is exact, and every self-query finding its row. */
  def check(b: Batch, rows: Array[Row]): Verdict = {
    val byQuery = rows.groupBy(r => r.getAs[Number]("query_id").longValue)
    var recallSum = 0.0
    var recallN = 0
    val failures = b.ids.distinct.iterator.flatMap { qid =>
      val res = byQuery.getOrElse(qid, Array.empty[Row])
        .sortBy(r => r.getAs[Number]("rnk").intValue)
      val ids = res.map(r => r.getAs[Number]("neighbor_id").longValue)
      val dists = res.map(r => r.getAs[Number]("dist").doubleValue)
      val q = if (qid >= SelfBase) live.getOrElse(qid - SelfBase, null)
        else pool(qid.toInt)
      val fail =
        if (q == null) Some(s"query $qid: self-query row vanished")
        else if (ids.length != K) Some(s"query $qid: ${ids.length} rows, want $K")
        else if (ids.distinct.length != K) Some(s"query $qid: duplicate ids")
        else ids.find(deleted).map(i => s"query $qid: deleted id $i returned")
          .orElse(ids.find(i => !live.contains(i))
            .map(i => s"query $qid: unknown id $i returned"))
          .orElse(ids.indices.find { j =>
            val want = Oracle.l2(q, live(ids(j)))
            math.abs(dists(j) - want) > DistTol * math.max(1.0, want)
          }.map(j => s"query $qid: id ${ids(j)} dist ${dists(j)} != " +
            Oracle.l2(q, live(ids(j)))))
          .orElse {
            if (qid >= SelfBase && !ids.contains(qid - SelfBase))
              Some(s"self-query of added id ${qid - SelfBase} missed it")
            else if (qid < SelfBase && exact) {
              val want = truth(qid.toInt).map(_._2)
              val got = ids.map(i => Oracle.l2(q, live(i))).sorted
              got.indices.find(j =>
                math.abs(got(j) - want(j)) > DistTol * math.max(1.0, want(j)))
                .map(j => s"query $qid: rank $j dist ${got(j)} != exact ${want(j)}")
            } else None
          }
      if (fail.isEmpty && qid < SelfBase && truth != null) {
        val t = truth(qid.toInt).map(_._1).toSet
        recallSum += ids.count(t).toDouble / K
        recallN += 1
      }
      fail
    }.toList
    Verdict(failures.headOption, recallSum, recallN)
  }

  protected def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  protected def duBytes(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
  }
}

object Workload {
  val K = 10
  val SelfBase = 1000000000L
  /** Relative tolerance between an engine distance and the oracle's: the
    * SIMD kernels sum in another order than the plain loop. */
  val DistTol = 1e-9
  val QuerySchema: StructType = StructType(Seq(
    StructField("query_id", LongType, false),
    StructField("qvec", ArrayType(FloatType, false), false)))

  def apply(name: String, spark: SparkSession, seed: Long,
            work: java.nio.file.Path): Workload = name match {
    case "flat-batch"   => new FlatBatch(spark, seed, work)
    case "graph-upsert" => new GraphUpsert(spark, seed, work)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (flat-batch, graph-upsert)")
  }
}

/** Exact scans through `FlatVectorIndex.search` over a parquet corpus:
  * the distance kernel, the flat operator and the parquet scan do the
  * work; no graph or store code runs. */
final class FlatBatch(spark: SparkSession, seed: Long,
                      work: java.nio.file.Path)
    extends Workload(spark, seed, work) {
  val name = "flat-batch"
  val mixture: Mixture = Mixture(dims = 128, components = 64,
    spread = 1.4, seed = seed)
  val n = 100000
  val poolSize = 128
  val batchSize = 64
  val setupReps = 5
  override def exact: Boolean = true
  def params: Seq[(String, String)] = Seq(
    "rows" -> n.toString, "dims" -> mixture.dims.toString,
    "components" -> mixture.components.toString,
    "spread" -> mixture.spread.toString, "query_pool" -> poolSize.toString,
    "batch" -> batchSize.toString, "k" -> Workload.K.toString,
    "metric" -> s""""${metric.name}"""")

  private var index: FlatVectorIndex = _

  def setup(rep: Int, traced: Boolean): SetupTimes = {
    val (_, s) = timed {
      index = FlatVectorIndex(spark.read.parquet(corpusPath), metric)
    }
    SetupTimes(s)
  }

  def read(b: Batch): DataFrame = index.search(frame(b), Workload.K)
  def storeBytes: Long = duBytes(corpusPath)
}

/** Writes beside reads on one persisted sharded-Vamana store: set-up runs
  * k-means, the sharded build, `GraphLayout.write` and `GraphLayout.open`;
  * each cycle is one `GraphLayout.upsert` of a few routed adds and deletes,
  * then a fixed number of small cold reads through `GraphLayout.serveCold`,
  * so each read sees the last committed store. */
final class GraphUpsert(spark: SparkSession, seed: Long,
                        work: java.nio.file.Path)
    extends Workload(spark, seed, work) {
  val name = "graph-upsert"
  val mixture: Mixture = Mixture(dims = 64, components = 64, spread = 1.4,
    seed = seed)
  val n = 20000
  val poolSize = 256
  val batchSize = 10
  val setupReps = 2
  val shards = 32
  val kmeansIters = 5
  val nProbes = 4
  val window = 64
  val build: BuildParams = BuildParams(maxDegree = 32, buildWindow = 64)
  val addsPerUpsert = 10
  val deletesPerUpsert = 2
  val readsPerUpsert = 4
  /** The untimed recall pass after the last upsert: the first
    * `FinalQueries` pool queries, in batches of `FinalBatch`. */
  val FinalQueries = 128
  val FinalBatch = 64
  def params: Seq[(String, String)] = Seq(
    "rows" -> n.toString, "dims" -> mixture.dims.toString,
    "components" -> mixture.components.toString,
    "spread" -> mixture.spread.toString, "query_pool" -> poolSize.toString,
    "batch" -> batchSize.toString, "k" -> Workload.K.toString,
    "metric" -> s""""${metric.name}"""", "shards" -> shards.toString,
    "kmeans_iters" -> kmeansIters.toString,
    "max_degree" -> build.maxDegree.toString,
    "build_window" -> build.buildWindow.toString,
    "n_probes" -> nProbes.toString, "window" -> window.toString,
    "adds_per_upsert" -> addsPerUpsert.toString,
    "deletes_per_upsert" -> deletesPerUpsert.toString,
    "reads_per_upsert" -> readsPerUpsert.toString)

  var path: String = _
  /** The layout the last set-up or upsert returned: its centroids route
    * adds and probes. Reads never use it; they open the store cold. */
  var layout: GraphLayout.Layout = _

  private var readsSinceUpsert = readsPerUpsert
  private var nextAdd = 0L
  private var lastAdded = Array.empty[Long]
  private val deleteRng = mixture.choices(Mixture.Deletes)

  def setup(rep: Int, traced: Boolean): SetupTimes = {
    path = work.resolve(s"store-$rep").toString
    // k-means starts from `shards` corpus rows drawn by the seed
    val initRng = mixture.choices(Mixture.KMeansInit)
    val init = Iterator.continually(initRng.nextInt(n)).distinct
      .take(shards).toSeq.zipWithIndex
      .map { case (i, c) => c.toLong -> live(i.toLong).map(_.toDouble).toSeq }
    val stats = if (traced) Some(Vamana.newBuildStats(spark)) else None
    val (parts, total) = timed {
      val data = spark.read.parquet(corpusPath)
      val (cents, trainS) = timed {
        // Lloyd's mean aggregator takes ARRAY<DOUBLE>
        KMeans.lloyd(data.select(col("id"), col("vec").cast("array<double>")),
          init, kmeansIters, mixture.dims)
      }
      val (clustered, assignS) = timed {
        KMeans.assign(data, cents).localCheckpoint(true)
      }
      val (graph, buildS) = timed {
        Vamana.buildSharded(clustered, build, metric, stats)
          .localCheckpoint(true)
      }
      val (_, writeS) = timed {
        GraphLayout.write(clustered, graph, cents, path)
      }
      val (opened, openS) = timed { GraphLayout.open(spark, path) }
      layout = opened
      SetupTimes(0, trainS, assignS, buildS,
        stats.map(_.distCalls.value.longValue).getOrElse(0L), writeS,
        openS * 1e3)
    }
    parts.copy(total = total)
  }

  def read(b: Batch): DataFrame = {
    readsSinceUpsert += 1
    GraphLayout.serveCold(spark, path, frame(b), Workload.K, window, nProbes,
      metric)
  }

  /** Pool queries plus one self-query of a row the last upsert added. */
  override def nextBatch(): Batch = {
    val b = super.nextBatch()
    if (lastAdded.isEmpty) b
    else {
      val a = lastAdded(batchRng.nextInt(lastAdded.length))
      Batch(b.ids.init :+ (Workload.SelfBase + a), b.vecs.init :+ live(a))
    }
  }

  override def hasUpserts: Boolean = true
  override def upsertDue: Boolean = readsSinceUpsert >= readsPerUpsert

  /** Build the next upsert batch; the returned call commits it. */
  override def upsert(timeCall: (() => Unit) => Double): UpsertStats = {
    readsSinceUpsert = 0
    val addIds = Array.fill(addsPerUpsert) { nextAdd += 1; n + nextAdd - 1 }
    val addVecs = addIds.map(i => mixture.row(Mixture.Upserts, i - n))
    val originals = live.keys.filter(_ < n).toArray.sorted
    val dels = Iterator.continually(originals(deleteRng.nextInt(originals.length)))
      .distinct.take(deletesPerUpsert).toArray
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("vec", ArrayType(FloatType, false), false)))
    val addedRaw = spark.createDataFrame(addIds.indices
      .map(i => Row(addIds(i), addVecs(i).toSeq)).asJava, schema)
    import spark.implicits._
    val delFrame = dels.toSeq.toDF("id")
    val before = listing()
    val ms = timeCall { () =>
      val added = KMeans.assign(addedRaw, layout.centroids)
      layout = GraphLayout.upsert(spark, path, added, delFrame, build, metric)
    }
    val after = listing()
    addIds.indices.foreach(i => live(addIds(i)) = addVecs(i))
    dels.foreach { d => live.remove(d); deleted += d }
    lastAdded = addIds
    val fresh = after.filter { case (p, st) => !before.get(p).contains(st) }
    val shardsTouched = fresh.keys.flatMap(p =>
      "cluster_id=(\\d+)".r.findFirstMatchIn(p).map(_.group(1))).toSet.size
    UpsertStats(ms, addIds.length + dels.length,
      addIds.length * (8L + 4L * mixture.dims) + dels.length * 8L,
      shardsTouched, fresh.size, fresh.values.map(_._2).sum)
  }

  /** Every data file of the store: path → (modification time, bytes). */
  private def listing(): Map[String, (Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    val out = Map.newBuilder[String, (Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      out += f.getPath.toString -> (f.getModificationTime, f.getLen)
    }
    out.result()
  }

  override def finalRecall(onWrong: String => Unit,
                           onError: String => Unit): Option[(Double, Int)] = {
    val qs = pool.take(FinalQueries)
    truth = truthFor(qs)
    var sum = 0.0
    var cnt = 0
    var calls = 0
    qs.indices.grouped(FinalBatch).foreach { idx =>
      val b = Batch(idx.map(_.toLong).toArray, idx.map(pool).toArray)
      calls += 1
      val rows =
        try Some(read(b).collect())
        catch { case e: Exception => onError(Main.describe(e)); None }
      rows.foreach { rs =>
        val v = check(b, rs)
        v.failure.foreach(onWrong)
        sum += v.recallSum
        cnt += v.recallN
      }
    }
    Some((if (cnt == 0) 0.0 else sum / cnt, calls))
  }

  def storeBytes: Long = duBytes(path)

  /** Centroids with no stored shard: a probe may still land on them. */
  override def emptyCentroids: Int = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/data")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stored = fs.listStatus(dir).count(_.getPath.getName
      .startsWith("cluster_id="))
    layout.centroids.size - stored
  }

  override def probe(b: Batch): Option[(Set[Long], Double)] = {
    val f = frame(b)
    val (set, s) = timed {
      Vamana.probedShards(f, layout.centroids, nProbes, metric)
    }
    Some((set, s * 1e3))
  }

  override def walkUsPerQuery(): Double = {
    // the shard the first pool query's nearest centroid names
    val q0 = pool(0).map(_.toDouble)
    val cid = layout.centroids.minBy { case (c, v) =>
      (Oracle.l2(q0.map(_.toFloat), v.map(_.toFloat).toArray), c) }._1
    val data = spark.read.parquet(s"$path/data/cluster_id=$cid")
      .select(col("id").cast("long"), col("vec")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    val graph = spark.read.parquet(s"$path/graph/cluster_id=$cid")
      .select(col("id").cast("long"), col("entry_id").cast("long"),
        col("neighbors")).collect()
    val slot = data.map(_._1).zipWithIndex.toMap
    val adj = new Array[Array[Int]](data.length)
    graph.foreach { r =>
      adj(slot(r.getLong(0))) =
        r.getSeq[Long](2).flatMap(slot.get).toArray
    }
    adj.indices.foreach(i => if (adj(i) == null) adj(i) = Array.empty[Int])
    val entry = slot(graph.head.getLong(1))
    val store = new VamanaKernel.FloatStore(data.map(_._2))
    val qs = pool.map(_.map(_.toDouble))
    def pass(): Unit = qs.foreach(q =>
      VamanaKernel.greedySearch(adj, store, entry, q, window, metric, 0))
    pass() // warm
    val reps = 5
    val (_, s) = timed { (0 until reps).foreach(_ => pass()) }
    s * 1e6 / (reps * qs.length)
  }
}
