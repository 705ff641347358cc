package graft

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Metric, Tables}
import graft.operators.{BinaryQuant, GraphLayout, KMeans, Pq, Rerank,
  Vamana}
import graft.operators.VamanaKernel.BuildParams

/** The reference for the stored graph serve, one table row per codec
  * path: `serve*` on an opened store returns the rows of the in-memory
  * Vamana kernel over the same frames, and `serve*Cold(path)` returns the
  * rows of `serve*(open(path))`. Selective probes (2 of 4 shards, 1 of 2
  * routing groups), so the stored walk and the cold listing really
  * prune. Each test checks one group of rows of the table. */
class StoredServeSpec extends SparkSpec {

  private val K = 10
  private val W = 40
  private val NProbes = 2
  private val KReorder = 4
  private val Keep = " + keep"

  /** One codec path: the stored serve, its cold twin, and the in-memory
    * reference. */
  private case class Case(name: String,
                          warm: GraphLayout.Layout => DataFrame,
                          cold: String => DataFrame,
                          memory: DataFrame,
                          keep: Option[Column])

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.select("query_id", "rnk", "neighbor_id", "dist")
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq

  /** The store and the table, built once for every test of the spec. */
  private class Fixture {
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
    val q = Tables.embeddingQueries(spark, sfDir)
    val cents = data.filter(col("id") < 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq)
      .toIndexedSeq
    val clustered = KMeans.assign(data, cents)
    val graph = Vamana.buildSharded(clustered,
      BuildParams(maxDegree = 24, buildWindow = 48), Metric.L2)
    val p = Pq.paramsFromRows(
      data.filter(col("id") % 7 === 0 && col("id") < 56).orderBy("id")
        .collect().map(_.getAs[Seq[Double]]("vec").toArray).toSeq,
      4, 8, Tables.embDims)
    val b = BinaryQuant.train(data)
    val path = "/tmp/graft_stored_serve_spec"
    GraphLayout.write(clustered, graph, cents, path, pq = Some(p),
      bin = Some(b), routingGroups = 2)
    val layout = GraphLayout.open(spark, path)
    val (l1, groupOf) = layout.routing.get
    val codes = Pq.encodeClustered(clustered, p)

    def withKeep(kp: Option[Column]): Seq[Case] = {
      val keep = kp.getOrElse(lit(true))
      val tag = if (kp.isDefined) Keep else ""
      def adc(name: String, kReorder: Int, metric: Metric,
              memory: DataFrame) =
        Case(name + tag,
          GraphLayout.serveAdc(_, q, K, W, NProbes, kReorder, metric, keep),
          GraphLayout.serveAdcCold(spark, _, q, K, W, NProbes, kReorder,
            metric, keep),
          memory, kp)
      Seq(
        Case("full-precision flat" + tag,
          GraphLayout.serve(_, q, K, W, NProbes, Metric.L2, keep = keep),
          GraphLayout.serveCold(spark, _, q, K, W, NProbes, Metric.L2,
            keep = keep),
          Vamana.searchShardedFiltered(q, clustered, graph, cents, K, W,
            NProbes, Metric.L2, keep), kp),
        Case("full-precision routed" + tag,
          GraphLayout.serve(_, q, K, W, NProbes, Metric.L2, l1Probes = 1,
            keep = keep),
          GraphLayout.serveCold(spark, _, q, K, W, NProbes, Metric.L2,
            l1Probes = 1, keep = keep),
          Vamana.searchShardedHierarchical(q, clustered, graph, cents, l1,
            groupOf, K, W, l1Probes = 1, NProbes, Metric.L2, keep = keep),
          kp),
        adc("ADC pure", 0, Metric.L2,
          Vamana.searchShardedAdc(q, codes, graph, cents, p, K, W, NProbes,
            Metric.L2, keep)),
        adc("ADC reranked", KReorder, Metric.L2,
          Vamana.searchShardedAdcRerank(q, codes, graph, cents, p,
            clustered, K, KReorder, W, NProbes, keep = keep)),
        adc("ADC cosine-reranked", KReorder, Metric.Cosine,
          Vamana.searchShardedAdcRerank(q, codes, graph, cents, p,
            clustered, K, KReorder, W, NProbes, walkMetric = Metric.L2,
            rerankMetric = Metric.Cosine, keep = keep)))
    }
    // the in-memory Hamming walk: v1 word-doubles of the same rows,
    // probed in the word space, then the exact rerank
    val (qWords, wordCents) = BinaryQuant.wordSpace(q, cents, b)
    val wordVecs = clustered.select(col("cluster_id"), col("id"),
      array(BinaryQuant.codeColumns(col("vec"), b).map(_.cast("double")): _*)
        .as("vec"))
    val hamming = Case("Hamming reranked",
      GraphLayout.serveHamming(_, q, K, W, NProbes, KReorder),
      GraphLayout.serveHammingCold(spark, _, q, K, W, NProbes, KReorder),
      Rerank.exact(Vamana.searchSharded(qWords, wordVecs, graph, wordCents,
        KReorder * K, W, NProbes, Metric.Hamming), q, clustered, K,
        Metric.L2), None)

    val cases: Map[String, Case] =
      (withKeep(None) ++ withKeep(Some(col("id") % 3 =!= 1)) :+ hamming)
        .map(c => c.name -> c).toMap
    private val served = mutable.Map.empty[String, Seq[Seq[Any]]]
    def warm(name: String): Seq[Seq[Any]] =
      served.getOrElseUpdate(name, rows(cases(name).warm(layout)))
  }

  private lazy val fx = new Fixture

  /** Stored ≡ in-memory and cold ≡ warm on each named row; a keep row
    * never emits an excluded id, and the predicate actually filters
    * something against the same row without keep. */
  private def check(names: Seq[String]): Unit = names.foreach { n =>
    val c = fx.cases(n)
    val warm = fx.warm(n)
    assert(warm.nonEmpty, n)
    assert(warm === rows(c.memory), s"$n: stored ≢ in-memory")
    assert(rows(c.cold(fx.path)) === warm, s"$n: cold ≢ warm")
    c.keep.foreach { _ =>
      warm.foreach(r => assert(r(2).asInstanceOf[Long] % 3 !== 1,
        s"$n: excluded id emitted: $r"))
      assert(warm !== fx.warm(n.stripSuffix(Keep)),
        s"$n: keep changed nothing")
    }
  }

  private def withAndWithoutKeep(names: String*): Seq[String] =
    names.flatMap(n => Seq(n, n + Keep))

  Seq[(String, Seq[String], () => Unit)](
    ("full-precision serve: stored ≡ the in-memory kernel and cold ≡ " +
      "serve(open(path)), flat and routed, with and without keep",
      withAndWithoutKeep("full-precision flat", "full-precision routed"),
      () => ()),
    ("ADC serve: stored ≡ the in-memory kernel and cold ≡ " +
      "serve(open(path)), pure and reranked",
      Seq("ADC pure", "ADC reranked"),
      () => ()),
    ("ADC serve under keep: stored ≡ the in-memory kernel, cold ≡ warm, " +
      "excluded ids never emitted, pure and reranked",
      Seq("ADC pure" + Keep, "ADC reranked" + Keep),
      () => ()),
    ("cosine ADC serve: stored ≡ the in-memory reranked kernel with and " +
      "without keep; cosine without rerank fails loudly",
      withAndWithoutKeep("ADC cosine-reranked"),
      // cosine cannot walk ADC codes without an exact rerank
      () => assertThrows[IllegalArgumentException] {
        GraphLayout.serveAdc(fx.layout, fx.q, K, W, NProbes,
          metric = Metric.Cosine)
      }),
    ("Hamming serve: stored ≡ the in-memory word-space walk + exact " +
      "rerank and cold ≡ serve(open(path))",
      Seq("Hamming reranked"),
      () => ())
  ).foreach { case (title, names, extra) =>
    test(title) {
      check(names)
      extra()
    }
  }
}
