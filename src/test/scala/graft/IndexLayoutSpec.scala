package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.core.{Metric, Tables}
import graft.operators.{IndexLayout, KMeans, Pq}
import graft.streaming.StreamingIndexLayout

/** The stored-IVF codec layout's M-lifecycle: touched-partition upsert
  * with codec RE-ENCODE (residual codes against the refreshed coarse
  * centroid — the no-drift invariant), partition hygiene, batch
  * hygiene, routing retrain, and the streaming twin. */
class IndexLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val M = 4
  private val K = 8
  private def dims = Tables.embDims

  private def fixture() = {
    val data = Tables.embeddingVectors(spark, sfDir).select("id", "vec")
    val cents = data.filter(col("id") < 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq)
      .toIndexedSeq
    val clustered = KMeans.assign(data, cents)
    val rows = data.filter(col("id") % 7 === 0 && col("id") < 7 * K)
      .orderBy("id").collect()
      .map(_.getAs[Seq[Double]]("vec").toArray).toSeq
    val p = Pq.paramsFromRows(rows, M, K, dims)
    (data, cents, clustered, p)
  }

  private def served(l: IndexLayout.Layout, nProbes: Int = 2) =
    IndexLayout.serve(l, Tables.embeddingQueries(spark, sfDir), 10,
        nProbes, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq

  test("serveCold (probed-partition cold open) ≡ serve(open(path)) on " +
      "flat and routed probes — same rows, only probed dirs listed") {
    val (_, cents, clustered, p) = fixture()
    val path = "/tmp/graft_indexlayout_spec_servecold"
    IndexLayout.write(clustered, cents, path, IndexLayout.PqResC(p),
      routingGroups = 2)
    val q = Tables.embeddingQueries(spark, sfDir)
    val full = IndexLayout.serve(IndexLayout.open(spark, path), q, 10, 2,
        Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val cold = IndexLayout.serveCold(spark, path, q, 10, 2, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(cold == full)
    // routed twin: level-1 routing selects probes, serveCold must follow
    // the SAME hierarchical selection
    val fullR = IndexLayout.serve(IndexLayout.open(spark, path), q, 10, 2,
        Metric.L2, l1Probes = 1)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val coldR = IndexLayout.serveCold(spark, path, q, 10, 2, Metric.L2,
        l1Probes = 1)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(coldR == fullR)
    // FileIndex regression pin (r16 verdict item 9): the cold scan is
    // rooted at probed `cluster_id=` dirs — never the store-wide data
    // dir whose listing cost ∝ total shards
    val coldF = IndexLayout.coldClusteredFor(spark, path, q, 2, Metric.L2)
    val scanRoots = coldF.queryExecution.sparkPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(scanRoots.nonEmpty && scanRoots.forall(_.contains("cluster_id=")),
      s"cold scan roots must be probed shard dirs, got $scanRoots")

    // a marked store is refused by serveCold exactly like open()
    val lease = graft.operators.StoreMarker.begin(spark, path, "upsert",
      Seq(0L))
    lease.stop()
    val e = intercept[Exception] {
      IndexLayout.serveCold(spark, path, q, 10, 2, Metric.L2) }
    assert(e.getMessage.contains("marker"))
    lease.complete()
  }

  test("serveCold over a centroid with no rows (k-means left it empty) " +
      "≡ serve(open(path)); a batch probing only empty centroids " +
      "returns zero rows") {
    val (_, cents, clustered, p) = fixture()
    val path = "/tmp/graft_indexlayout_spec_empty_centroid"
    // centroid 99 sits far from every row: no row is assigned to it, so
    // the store has no cluster_id=99 dir
    val far = cents.head._2.map(_ + 1000.0)
    IndexLayout.write(clustered, cents :+ (99L -> far), path,
      IndexLayout.PqResC(p))
    val farQ = Seq((999999L, far.toArray)).toDF("query_id", "qvec")
    // the far query probes the empty centroid AND its nearest real one
    val q = Tables.embeddingQueries(spark, sfDir).unionByName(farQ)
    val full = IndexLayout.serve(IndexLayout.open(spark, path), q, 10, 2,
        Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(full.exists(_.head == 999999L))
    assert(IndexLayout.serveCold(spark, path, q, 10, 2, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq == full)
    // probing ONLY the empty centroid: no rows, not an error
    assert(IndexLayout.serveCold(spark, path, farQ, 10, 1, Metric.L2)
      .count() === 0)
  }

  test("upsert ≡ from-scratch layout of the merged corpus (IVFADC: " +
      "residual codes re-encoded against the REFRESHED centroid); " +
      "untouched partitions' files not rewritten; emptied shards vanish") {
    val (data, cents, clustered, p) = fixture()
    val path = "/tmp/graft_indexlayout_spec_upsert"
    IndexLayout.write(clustered, cents, path, IndexLayout.PqResC(p))

    val added = data.filter(col("id") % 50 === 7).orderBy("id").limit(20)
      .select((col("id") + 100000L).as("id"), col("vec"),
        lit(0L).as("cluster_id"))
    val delIds = clustered.filter(col("cluster_id") === 1L)
      .orderBy("id").limit(5).select("id")

    def mtimes(): Map[String, Long] = {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/data"))
        .filter(_.getPath.getName.startsWith("cluster_id="))
        .flatMap(d => fs.listStatus(d.getPath).map(f =>
          f.getPath.toString -> f.getModificationTime))
        .toMap
    }
    val before = mtimes()
    val up = IndexLayout.upsert(spark, path, added, delIds)

    // partition hygiene: shards 2 and 3 received no adds/deletes — their
    // files must be byte-untouched (same list, same mtimes)
    val after = mtimes()
    val untouchedBefore = before.filter(f =>
      f._1.contains("cluster_id=2") || f._1.contains("cluster_id=3"))
    assert(untouchedBefore.nonEmpty)
    untouchedBefore.foreach { case (f, t) =>
      assert(after.get(f).contains(t), s"untouched file rewritten: $f")
    }

    // touched centroids refreshed with the rounded-mean fold; untouched
    // carried over verbatim
    assert(up.centroids.filter(c => c._1 == 2L || c._1 == 3L) ===
      cents.filter(c => c._1 == 2L || c._1 == 3L))
    assert(up.centroids.find(_._1 == 0L) !== cents.find(_._1 == 0L))

    // upsert ≡ from-scratch: a fresh write of the merged corpus with the
    // UPSERTED centroid table (same residual reference points) serves
    // bit-identical rows AND stores bit-identical code columns
    val merged = clustered.join(delIds, Seq("id"), "left_anti")
      .unionByName(added)
    val path2 = "/tmp/graft_indexlayout_spec_upsert_fresh"
    IndexLayout.write(merged, up.centroids, path2, IndexLayout.PqResC(p))
    val fresh = IndexLayout.open(spark, path2)
    assert(served(up) === served(fresh))
    assert(served(up).nonEmpty)
    val codeCols = (0 until M).map(j => col(s"c$j"))
    val upCodes = up.clustered
      .select(col("id") +: codeCols: _*).orderBy("id")
      .collect().map(_.toSeq).toSeq
    val freshCodes = fresh.clustered
      .select(col("id") +: codeCols: _*).orderBy("id")
      .collect().map(_.toSeq).toSeq
    assert(upCodes === freshCodes)

    // the refreshed-centroid invariant is REAL: re-encoding the touched
    // shard against the STALE centroid disagrees with the store
    val touchedMergedRows = merged.filter(col("cluster_id") === 0L)
    val stale = Pq.encodeResiduals(touchedMergedRows, cents, p)
      .select(col("id") +: codeCols: _*).orderBy("id")
      .collect().map(_.toSeq).toSeq
    val stored0 = up.clustered.filter(col("cluster_id") === 0L)
      .select(col("id") +: codeCols: _*).orderBy("id")
      .collect().map(_.toSeq).toSeq
    assert(stale !== stored0,
      "stale-centroid codes should differ — the refresh must matter")

    // emptying a whole shard drops its partition dir and its centroid
    val allOf2 = up.clustered.filter(col("cluster_id") === 2L).select("id")
    val up2 = IndexLayout.upsert(spark, path, added.limit(0), allOf2)
    assert(!up2.centroids.exists(_._1 == 2L))
    assert(!mtimes().keys.exists(_.contains("cluster_id=2")))
    assert(up2.clustered.filter(col("cluster_id") === 2L).count() === 0)
  }

  test("delete-only upsert batches apply against a byte-resident store " +
      "even when the adds frame carries a placeholder ARRAY<DOUBLE> vec " +
      "(the CDC delete-only micro-batch shape)") {
    import graft.functions.ByteVecs
    val (data, _, _, _) = fixture()
    val bytes = ByteVecs.markUnsigned(data.select(col("id"),
      ByteVecs.quantizeUnsigned(col("vec"), 64.0).as("vec")))
    // seed centroids in the BYTE VALUE SPACE (widened u8), like the
    // double fixture seeds in its own space — raw-double seeds would
    // collapse the assignment
    val cents = ByteVecs.widenedForMath(bytes, "vec")
      .filter(col("id") < 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq)
      .toIndexedSeq
    val clustered = KMeans.assign(bytes, cents)
    val path = "/tmp/graft_indexlayout_spec_delonly_u8"
    IndexLayout.write(clustered, cents, path)
    val dels = clustered.filter(col("cluster_id") === 1L)
      .orderBy("id").limit(3).select("id")
    val delSeq = dels.collect().map(_.getLong(0)).toSeq
    assert(delSeq.size === 3, "fixture must have rows to delete")
    // the adds side of a delete-only CDC batch: EMPTY, vec typed
    // ARRAY<DOUBLE> — the store's byte value-space contract must not
    // fire on zero added rows
    val emptyAdds = data
      .select(col("id"), col("vec"), lit(0L).as("cluster_id")).limit(0)
    val up = IndexLayout.upsert(spark, path, emptyAdds, dels)
    assert(up.clustered.filter(col("id").isin(delSeq: _*)).count() === 0)
    assert(up.clustered.count() === clustered.count() - 3)
    // the store stays byte-resident with its declared signedness
    assert(ByteVecs.signednessOf(up.clustered.schema, "vec")
      .contains(true))
  }

  test("crash safety: a marked store refuses open()/upsert; repair() " +
      "re-derives the touched shards so codes ≡ centroids ≡ rows; the " +
      "interrupted batch then replays to the from-scratch store") {
    val (data, cents, clustered, p) = fixture()
    val path = "/tmp/graft_indexlayout_spec_crash"
    IndexLayout.write(clustered, cents, path, IndexLayout.PqResC(p))
    val added = data.filter(col("id") % 53 === 2).orderBy("id").limit(6)
      .select((col("id") + 500000L).as("id"), col("vec"),
        lit(0L).as("cluster_id"))
    val noDels = added.select("id").limit(0)
    // simulate the crash window the marker exists for: marker present,
    // shard 0's data partition ALREADY rewritten with residual codes
    // quantized against a SHIFTED centroid, centroid table still old
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/upsert.inprogress"),
      """{"touched":[0]}""".getBytes)
    val rows0 = clustered.filter(col("cluster_id") === 0L)
      .localCheckpoint(true)
    val shifted = cents.map { case (cid, v) =>
      if (cid == 0L) (cid, v.map(_ + 0.5)) else (cid, v) }
    rows0.join(Pq.encodeResiduals(rows0, shifted, p),
        Seq("cluster_id", "id"))
      .repartition(col("cluster_id")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cluster_id").parquet(s"$path/data")
    // the store is now silently WRONG (codes reference a centroid the
    // table does not hold) — open() and upsert() must refuse it.
    // While the marker is FRESH the triage presumes a LIVE writer
    // (repair refuses too); aged past the liveness window it reads as
    // crashed and open() directs to repair()
    val eLive = intercept[RuntimeException] { IndexLayout.open(spark, path) }
    assert(eLive.getMessage.contains("LIVE") &&
      eLive.getMessage.contains("Do NOT repair"))
    intercept[RuntimeException] { IndexLayout.repair(spark, path) }
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$path/upsert.inprogress"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 2 * graft.operators.StoreMarker
          .LiveWindowMs))
    val e = intercept[RuntimeException] { IndexLayout.open(spark, path) }
    assert(e.getMessage.contains("repair") &&
      e.getMessage.contains("STALE upsert"))
    intercept[RuntimeException] {
      IndexLayout.upsert(spark, path, added, noDels)
    }
    // repair: shard 0 re-derived from rows on disk — centroid = the
    // rounded mean of its CURRENT rows, codes re-encoded against it
    val rep = IndexLayout.repair(spark, path)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/upsert.inprogress")))
    val repairedCent = rep.centroids.find(_._1 == 0L).get
    assert(repairedCent ===
      KMeans.roundedMeans(rows0).find(_._1 == 0L).get)
    val codeCols = (0 until M).map(j => col(s"c$j"))
    val expect0 = rows0.join(
        Pq.encodeResiduals(rows0, rep.centroids, p),
        Seq("cluster_id", "id"))
      .select(col("id") +: codeCols: _*).orderBy("id")
      .collect().map(_.toSeq).toSeq
    val stored0 = rep.clustered.filter(col("cluster_id") === 0L)
      .select(col("id") +: codeCols: _*).orderBy("id")
      .collect().map(_.toSeq).toSeq
    assert(stored0 === expect0)
    // content restoration: the interrupted batch replays to the same
    // store a from-scratch write of the merged corpus produces
    val up = IndexLayout.upsert(spark, path, added, noDels)
    val merged = clustered.unionByName(added)
    val path2 = "/tmp/graft_indexlayout_spec_crash_fresh"
    IndexLayout.write(merged, up.centroids, path2, IndexLayout.PqResC(p))
    assert(served(up) === served(IndexLayout.open(spark, path2)))
    // repair without a marker is the identity
    assert(IndexLayout.repair(spark, path).centroids === up.centroids)
    // a full REBUILD onto a crashed path supersedes a STALE marker
    // (write() refuses a LIVE one — single-writer) and lifts it after
    // the last artifact, so open() accepts the now-consistent store
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/upsert.inprogress"),
      """{"touched":[0]}""".getBytes)
    intercept[RuntimeException] {
      IndexLayout.write(clustered, cents, path, IndexLayout.PqResC(p))
    }
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$path/upsert.inprogress"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 2 * graft.operators.StoreMarker
          .LiveWindowMs))
    IndexLayout.write(clustered, cents, path, IndexLayout.PqResC(p))
    assert(IndexLayout.open(spark, path).centroids === cents)
  }

  test("rebuild crash window: write() holds a rebuild-kind marker until " +
      "the LAST artifact lands, so a failed or crashed rebuild leaves a " +
      "refused store (re-run write(), not repair) instead of an unmarked " +
      "inconsistent one") {
    val (data, cents, clustered, p) = fixture()
    val path = "/tmp/graft_indexlayout_spec_rebuild_crash"
    // a COMPLETED write lifts its marker
    IndexLayout.write(clustered, cents, path, IndexLayout.PqResC(p))
    val mp = java.nio.file.Paths.get(s"$path/upsert.inprogress")
    assert(!java.nio.file.Files.exists(mp))
    // a FAILED write (executor exception mid-artifact) keeps it: the
    // data dir was being overwritten when the job died, so the store
    // must stay refused — this is the window the pre-r16
    // delete-marker-first order left unmarked
    val boom = org.apache.spark.sql.functions.udf((v: Seq[Double]) =>
      if (v == null) v else throw new RuntimeException("injected crash"))
    intercept[Exception] {
      IndexLayout.write(clustered.withColumn("vec", boom(col("vec"))),
        cents, path, IndexLayout.PqResC(p))
    }
    assert(java.nio.file.Files.exists(mp))
    assert(new String(java.nio.file.Files.readAllBytes(mp))
      .contains(""""kind":"rebuild""""))
    // fresh marker → live-writer triage; aged → stale-rebuild triage
    // directing to write(), and repair() refuses (no touched list can
    // reconstruct a half-written rebuild)
    val eLive = intercept[RuntimeException] { IndexLayout.open(spark, path) }
    assert(eLive.getMessage.contains("LIVE"))
    java.nio.file.Files.setLastModifiedTime(mp,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 2 * graft.operators.StoreMarker
          .LiveWindowMs))
    val e = intercept[RuntimeException] { IndexLayout.open(spark, path) }
    assert(e.getMessage.contains("STALE rebuild") &&
      e.getMessage.contains("re-run"))
    val eR = intercept[RuntimeException] { IndexLayout.repair(spark, path) }
    assert(eR.getMessage.contains("STALE rebuild"))
    // recovery: re-running write() supersedes and lifts the marker
    IndexLayout.write(clustered, cents, path, IndexLayout.PqResC(p))
    assert(IndexLayout.open(spark, path).centroids === cents)
  }

  test("upsert batch hygiene: duplicate identical adds collapse, delete " +
      "wins over add, conflicting payloads fail loudly") {
    val (data, cents, clustered, p) = fixture()
    val path = "/tmp/graft_indexlayout_spec_hygiene"
    IndexLayout.write(clustered, cents, path, IndexLayout.PqResC(p))
    val one = data.orderBy("id").limit(1)
      .select((col("id") + 200000L).as("id"), col("vec"),
        lit(0L).as("cluster_id"))
    // duplicate identical adds collapse to one row
    val up = IndexLayout.upsert(spark, path, one.unionAll(one),
      one.select("id").limit(0))
    assert(up.clustered.filter(col("id") === 200000L).count() === 1)
    // delete wins over add for the same id in one batch
    val up2 = IndexLayout.upsert(spark, path, one, one.select("id"))
    assert(up2.clustered.filter(col("id") === 200000L).count() === 0)
    // two different payloads for one id fail loudly
    val conflicting = one.unionAll(one.withColumn("vec",
      org.apache.spark.sql.functions.transform(col("vec"), v => v + 1.0)))
    val e = intercept[IllegalArgumentException] {
      IndexLayout.upsert(spark, path, conflicting,
        one.select("id").limit(0))
    }
    assert(e.getMessage.contains("conflicting"))
  }

  test("upsert retrains a persisted routing level from the refreshed " +
      "centroids: routed ≡ flat at exhaustive level-1 after the upsert") {
    val (data, cents, clustered, p) = fixture()
    val path = "/tmp/graft_indexlayout_spec_routed_upsert"
    IndexLayout.write(clustered, cents, path, IndexLayout.PqResC(p),
      routingGroups = 2)
    val added = data.filter(col("id") % 71 === 3).orderBy("id").limit(8)
      .select((col("id") + 300000L).as("id"), col("vec"),
        lit(1L).as("cluster_id"))
    val up = IndexLayout.upsert(spark, path, added,
      added.select("id").limit(0))
    assert(up.routing.isDefined)
    val l1Size = up.routing.get._1.size
    val queries = Tables.embeddingQueries(spark, sfDir)
    val routed = IndexLayout.searchRouted(up, queries, 10,
        l1Probes = l1Size, nProbes = 2, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    val flat = IndexLayout.search(up, queries, 10, nProbes = 2, Metric.L2)
      .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(routed === flat)
    assert(routed.nonEmpty)
  }

  test("property: randomized add/delete batches ≡ a from-scratch store " +
      "of the merged corpus across seeds (IVFADC codes bit-identical); " +
      "delete-wins holds when a batch adds and deletes the same id") {
    val (data, cents, clustered, p) = fixture()
    val codeCols = (0 until M).map(j => col(s"c$j"))
    for (seed <- Seq(3, 11, 29)) {
      val path = s"/tmp/graft_indexlayout_spec_prop_$seed"
      IndexLayout.write(clustered, cents, path, IndexLayout.PqResC(p))
      // pseudo-random but deterministic batch: every (id % 41 == seed)
      // row re-added under a new id into a seed-scrambled cluster;
      // every (id % 37 == seed) id deleted; plus ONE id both added and
      // deleted in the same batch (delete must win)
      val added0 = data.filter(col("id") % 41 === seed.toLong)
        .select((col("id") + 600000L + seed * 10000L).as("id"), col("vec"),
          ((col("id") * 7 + seed) % cents.size).cast("long")
            .as("cluster_id"))
      val clash = added0.orderBy("id").limit(1)
      val deleted = clustered.filter(col("id") % 37 === seed.toLong)
        .select("id").unionByName(clash.select("id"))
      val up = IndexLayout.upsert(spark, path, added0, deleted)
      // the clashing id must be absent (delete wins over add)
      val clashId = clash.select("id").as[Long].collect().head
      assert(up.clustered.filter(col("id") === clashId).count() === 0,
        s"seed $seed: delete-wins violated")
      val merged = clustered
        .join(deleted, Seq("id"), "left_anti")
        .unionByName(added0.join(deleted, Seq("id"), "left_anti"))
      val path2 = s"/tmp/graft_indexlayout_spec_prop_fresh_$seed"
      IndexLayout.write(merged, up.centroids, path2,
        IndexLayout.PqResC(p))
      val fresh = IndexLayout.open(spark, path2)
      assert(served(up) === served(fresh), s"seed $seed: served rows")
      assert(served(up).nonEmpty, s"seed $seed")
      def codes(l: IndexLayout.Layout) = l.clustered
        .select(col("id") +: codeCols: _*).orderBy("id")
        .collect().map(_.toSeq).toSeq
      assert(codes(up) === codes(fresh), s"seed $seed: code columns")
    }
  }

  test("streaming twin: micro-batched upserts through " +
      "StreamingIndexLayout ≡ one batch upsert of the union; deletes " +
      "via opCol; replayed batch converges (replace-on-add)") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (data, cents, clustered, p) = fixture()
    val path = "/tmp/graft_indexlayout_spec_stream"
    IndexLayout.write(clustered, cents, path, IndexLayout.PqResC(p))
    val addRows = data.filter(col("id") % 37 === 5).orderBy("id").limit(12)
      .collect().map(r => (r.getLong(0) + 400000L,
        r.getSeq[Double](1), null.asInstanceOf[String])).toSeq
    val delRows = clustered.filter(col("cluster_id") === 1L).orderBy("id")
      .limit(3).collect().map(r => (r.getLong(0), Seq.empty[Double],
        "delete")).toSeq
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ivf-stream").toString
    val mem = MemoryStream[(Long, Seq[Double], String)]
    val q = StreamingIndexLayout.attach(
      mem.toDF().toDF("id", "vec", "op"), path, ckpt, opCol = Some("op"))
    try {
      addRows.grouped(6).foreach { g =>
        mem.addData(g); q.processAllAvailable() }
      mem.addData(delRows); q.processAllAvailable()
      // REPLAY shape: re-deliver the first add group (new checkpoint
      // would re-run it post-crash) — replace-on-add must converge
      mem.addData(addRows.take(6)); q.processAllAvailable()
    } finally q.stop()
    val streamed = IndexLayout.open(spark, path)
    // one batch equivalent on a second store: route adds by nearest
    // CURRENT centroid exactly like the stream's first batch (all adds
    // route against the original centroids here since each batch's adds
    // land in shards whose refreshed means we then reuse — replicate by
    // applying the same per-batch sequence)
    val path2 = "/tmp/graft_indexlayout_spec_stream_batch"
    IndexLayout.write(clustered, cents, path2, IndexLayout.PqResC(p))
    addRows.grouped(6).foreach { g =>
      val adds = g.toDF("id", "vec", "op").drop("op")
      val cur = IndexLayout.open(spark, path2)
      IndexLayout.upsert(spark, path2,
        KMeans.assign(adds, cur.centroids), adds.select("id").limit(0))
    }
    IndexLayout.upsert(spark, path2,
      clustered.select("id", "vec", "cluster_id").limit(0),
      delRows.map(_._1).toDF("id"))
    // replay-equivalent: re-apply the first group once more
    locally {
      val adds = addRows.take(6).toDF("id", "vec", "op").drop("op")
      val cur = IndexLayout.open(spark, path2)
      IndexLayout.upsert(spark, path2,
        KMeans.assign(adds, cur.centroids), adds.select("id").limit(0))
    }
    val batch = IndexLayout.open(spark, path2)
    assert(served(streamed) === served(batch))
    assert(served(streamed).nonEmpty)
    // deletes landed, adds present exactly once
    assert(streamed.clustered.filter(col("id") >= 400000L).count() ===
      addRows.length)
    assert(streamed.clustered
      .join(delRows.map(_._1).toDF("id"), Seq("id")).count() === 0)
  }

  test("Trigger.AvailableNow catch-up on the MAINTENANCE twin: a queued " +
      "upsert backlog drains to termination and the store ≡ live " +
      "application of the same rows (pinned router — routing policy is " +
      "the batch-boundary-independent dial)") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (data, cents, clustered, p) = fixture()
    val path = "/tmp/graft_indexlayout_spec_catchup"
    val pathLive = "/tmp/graft_indexlayout_spec_catchup_live"
    IndexLayout.write(clustered, cents, path, IndexLayout.PqResC(p))
    IndexLayout.write(clustered, cents, pathLive, IndexLayout.PqResC(p))
    val addRows = data.filter(col("id") % 41 === 3).orderBy("id").limit(12)
      .collect().map(r => (r.getLong(0) + 600000L,
        r.getSeq[Double](1), null.asInstanceOf[String])).toSeq
    val delRows = clustered.filter(col("cluster_id") === 1L).orderBy("id")
      .limit(3).collect().map(r => (r.getLong(0), Seq.empty[Double],
        "delete")).toSeq
    // a PINNED router (the q192 routing-policy dial): deterministic by
    // id, so shard membership cannot depend on how the backlog gets
    // sliced into micro-batches — nearest-centroid routing is
    // boundary-dependent BY DESIGN (each batch routes against refreshed
    // means), which is a policy choice, not a replay hazard
    val pinned: (org.apache.spark.sql.DataFrame,
      Seq[(Long, Seq[Double])]) => org.apache.spark.sql.DataFrame =
      (df, _) => df.withColumn("cluster_id",
        pmod(col("id"), lit(4)).cast("long"))
    // queue the WHOLE backlog first, then attach — the catch-up shape
    val mem = MemoryStream[(Long, Seq[Double], String)]
    addRows.grouped(4).foreach(mem.addData(_))
    mem.addData(delRows)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ivf-catchup").toString
    val q = StreamingIndexLayout.attach(
      mem.toDF().toDF("id", "vec", "op"), path, ckpt, opCol = Some("op"),
      assign = pinned,
      trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    q.awaitTermination(180000L)
    assert(!q.isActive, "AvailableNow must terminate once drained")
    val caught = IndexLayout.open(spark, path)
    // live twin: same rows, live micro-batches, same pinned router
    val mem2 = MemoryStream[(Long, Seq[Double], String)]
    val ckpt2 = java.nio.file.Files
      .createTempDirectory("graft-ivf-catchup-live").toString
    val q2 = StreamingIndexLayout.attach(
      mem2.toDF().toDF("id", "vec", "op"), pathLive, ckpt2,
      opCol = Some("op"), assign = pinned)
    try {
      addRows.grouped(4).foreach { g =>
        mem2.addData(g); q2.processAllAvailable() }
      mem2.addData(delRows); q2.processAllAvailable()
    } finally q2.stop()
    val live = IndexLayout.open(spark, pathLive)
    assert(served(caught) === served(live))
    assert(served(caught).nonEmpty)
    assert(caught.clustered.filter(col("id") >= 600000L).count() ===
      addRows.length)
    assert(caught.clustered
      .join(delRows.map(_._1).toDF("id"), Seq("id")).count() === 0)
    assert(caught.centroids === live.centroids)
  }
}
