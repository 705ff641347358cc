package graft.operators

import org.apache.spark.sql.SparkSession

/** Shared crash-marker lifecycle for the on-disk vector stores
  * ([[GraphLayout]], [[IndexLayout]]). The stores' multi-artifact
  * commits (data / graph / codes / bincodes / centroids / routing /
  * sidecar) cannot be atomic, so every writer brackets its commit with
  * an `upsert.inprogress` marker: present ⇒ the store may be
  * inconsistent and `open()` refuses to serve it.
  *
  * This object mechanizes the OWNERSHIP half of that contract (it was
  * previously documentation only): the marker records the writer's
  * `kind` ("upsert" — repairable from the touched list — or "rebuild" —
  * a crashed full `write()`, only re-running `write()` helps), a random
  * `session` id, and the writer touches the marker's mtime every
  * [[HeartbeatMs]] while it runs. `open()`/`repair()` read the
  * heartbeat age: under [[LiveWindowMs]] the writer is presumed LIVE
  * (repairing under a live writer would interleave two commits — the
  * single-writer hazard the old wording could only warn about); past it
  * the writer is presumed crashed and the refusal directs to the
  * matching recovery (`repair()` for upserts, re-`write()` for
  * rebuilds).
  *
  * Failure-vs-crash: a writer that FAILS with an exception stops its
  * heartbeat (`Lease.stop()` in the caller's finally) but keeps the
  * marker, so the store ages into "crashed" and stays refusable; a
  * writer that completes lifts the marker (`Lease.complete()`); a
  * writer whose JVM dies leaves the marker with a stale heartbeat —
  * exactly the crashed state. Markers written by pre-heartbeat versions
  * (bare `{"touched":[…]}`) read as kind "upsert", session "unknown",
  * aged by file mtime — totality over old stores. */
private[graft] object StoreMarker {

  /** Marker file name, directly under the store path. */
  val FileName = "upsert.inprogress"

  /** Heartbeat cadence: a live writer touches the marker this often. */
  val HeartbeatMs = 5000L

  /** Liveness window: a marker touched more recently than this is
    * presumed to have a LIVE writer (6× the heartbeat — generous slack
    * for GC pauses and slow object-store metadata ops). */
  val LiveWindowMs = 30000L

  def markerPath(store: String): String = s"$store/$FileName"

  /** Decoded marker state: writer kind ("upsert"/"rebuild"), session id,
    * heartbeat age, and (upserts) the touched-shard list repair needs. */
  final case class Info(kind: String, session: String, ageMs: Long,
                        touched: Seq[Long]) {
    def live: Boolean = ageMs < LiveWindowMs
  }

  private def hPath(p: String) = new org.apache.hadoop.fs.Path(p)
  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read and decode the marker, if present. */
  def read(spark: SparkSession, store: String): Option[Info] = {
    val mp = hPath(markerPath(store))
    val fs = fsOf(spark, mp)
    if (!fs.exists(mp)) None
    else {
      val mtime = fs.getFileStatus(mp).getModificationTime
      val in = fs.open(mp)
      val json =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      import org.json4s._
      implicit val fmts: Formats = DefaultFormats
      val parsed = org.json4s.jackson.JsonMethods.parse(json)
      def str(field: String, dflt: String) = (parsed \ field) match {
        case JNull | JNothing => dflt
        case n                => n.extract[String]
      }
      val touched = (parsed \ "touched") match {
        case JNull | JNothing => Seq.empty[Long]
        case n                => n.extract[Seq[Long]]
      }
      Some(Info(str("kind", "upsert"), str("session", "unknown"),
        math.max(0L, System.currentTimeMillis - mtime), touched))
    }
  }

  /** A held marker: the file is on disk and a daemon thread refreshes
    * its mtime every [[HeartbeatMs]] until [[stop]]/[[complete]]. */
  final class Lease private[StoreMarker] (spark: SparkSession,
                                          store: String,
                                          val session: String) {
    @volatile private var running = true
    private val mp = hPath(markerPath(store))
    private val fs = fsOf(spark, mp)
    private val beat = new Thread(() => {
      while (running) {
        try Thread.sleep(HeartbeatMs)
        catch { case _: InterruptedException => () }
        // a vanished marker (complete() raced the wake-up) or an FS
        // hiccup is benign: setTimes never recreates the file, and a
        // missed beat just ages the marker honestly
        if (running)
          try fs.setTimes(mp, System.currentTimeMillis, -1)
          catch { case _: java.io.IOException => () }
      }
    }, s"graft-store-marker-heartbeat-$session")
    beat.setDaemon(true)
    beat.start()

    /** Stop the heartbeat, KEEP the marker — the failure path: the
      * store may be inconsistent, so it must age into "crashed" and
      * stay refusable, not be silently unmarked. Idempotent. */
    def stop(): Unit = { running = false; beat.interrupt() }

    /** Commit complete: stop the heartbeat and lift the marker. */
    def complete(): Unit = { stop(); fs.delete(mp, false) }
  }

  /** Write the marker (overwriting any stale predecessor — the new
    * writer supersedes it) and start its heartbeat. Callers MUST pair
    * with `Lease.stop()` in a finally and `Lease.complete()` on the
    * success path. */
  def begin(spark: SparkSession, store: String, kind: String,
            touched: Seq[Long]): Lease = {
    // a STALE predecessor is superseded silently (the new writer's
    // commit overwrites everything the dead one touched), but a LIVE
    // one means two writers — refuse rather than interleave commits
    read(spark, store).filter(_.live).foreach { m =>
      sys.error(s"store at $store already has a ${m.kind} writer whose " +
        s"marker heartbeat is ${m.ageMs} ms old (session ${m.session}) — " +
        "it appears LIVE, and stores have a single-writer contract; wait " +
        s"for it to finish or for the heartbeat to age past " +
        s"${LiveWindowMs} ms")
    }
    val session = java.util.UUID.randomUUID.toString
    val mp = hPath(markerPath(store))
    val fs = fsOf(spark, mp)
    val json = s"""{"kind":"$kind","session":"$session",""" +
      s""""touched":[${touched.mkString(",")}]}"""
    val out = fs.create(mp, true)
    out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    new Lease(spark, store, session)
  }

  /** The marker bracket: `begin` → body → `complete`, heartbeat stopped
    * (marker kept) if the body throws. */
  def bracket[T](spark: SparkSession, store: String, kind: String,
                 touched: Seq[Long])(body: => T): T = {
    val lease = begin(spark, store, kind, touched)
    try { val r = body; lease.complete(); r }
    finally lease.stop()
  }

  /** The shared `open()`/`repair()` refusal: raises unless the store is
    * unmarked (no writer in flight) or the caller is a repair facing a
    * stale upsert marker (the one state repair exists for). `what` is
    * the store family's name for messages ("graph layout" / "layout");
    * `repairCall` / `writeCall` name the recovery entry points. */
  def guard(spark: SparkSession, store: String, what: String,
            repairCall: String, writeCall: String,
            forRepair: Boolean = false): Option[Info] = {
    val info = read(spark, store)
    info.foreach { m =>
      if (m.live)
        sys.error(s"$what at $store has an in-progress ${m.kind} marker " +
          s"whose heartbeat is ${m.ageMs} ms old (session ${m.session}) — " +
          s"the writer appears LIVE (writers touch the marker every " +
          s"${HeartbeatMs} ms; stores have a single-writer contract, and " +
          "repairing under a live writer interleaves two commits). Do NOT " +
          "repair; wait for the writer to finish, or — if it was killed — " +
          s"for the heartbeat to age past ${LiveWindowMs} ms")
      else if (m.kind == "rebuild")
        sys.error(s"$what at $store has a STALE rebuild marker (heartbeat " +
          s"${m.ageMs} ms old, session ${m.session}): a full $writeCall " +
          "crashed mid-flight, so the store's artifacts may be arbitrarily " +
          s"incomplete — re-run $writeCall onto this path (repair cannot " +
          "reconstruct a half-written rebuild)")
      else if (!forRepair)
        sys.error(s"$what at $store has a STALE upsert marker (heartbeat " +
          s"${m.ageMs} ms old, session ${m.session}): an upsert crashed " +
          "mid-flight and the store's derived artifacts may describe rows " +
          s"the data partitions no longer hold — run $repairCall, then " +
          "re-apply the upsert batch (replace-on-add converges)")
    }
    info
  }
}

/** File plumbing shared by the on-disk vector stores ([[GraphLayout]],
  * [[IndexLayout]]): the `layout.json` sidecar, the routing group count
  * it records, and the probed-shard reads of the cold serves. */
private[graft] object StoreFiles {

  private def sidecarPath(store: String) =
    new org.apache.hadoop.fs.Path(s"$store/layout.json")

  def writeSidecar(spark: SparkSession, store: String, json: String): Unit = {
    val p = sidecarPath(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def readSidecar(spark: SparkSession, store: String): String = {
    val p = sidecarPath(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no layout sidecar at $p")
    val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(bytes) finally in.close()
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The sidecar's recorded routing group count (0 = no routing). */
  def routingGroupsOf(spark: SparkSession, store: String): Int = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    (org.json4s.jackson.JsonMethods.parse(readSidecar(spark, store)) \
      "routing_groups") match {
      case JNull | JNothing => 0
      case node             => node.extract[Int]
    }
  }

  /** The probed shards (ascending) whose `cluster_id=` dir exists under
    * every one of `subs`. A centroid with no rows has no dirs: k-means
    * can leave one empty at write time. One existence check per
    * (shard, dir), so the cost is ∝ probes, never ∝ shards. */
  def liveShards(spark: SparkSession, store: String, subs: Seq[String],
                 probed: Iterable[Long]): Seq[Long] = {
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    probed.toSeq.sorted.filter(c => subs.forall(sub =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$store/$sub/cluster_id=$c"))))
  }

  /** What a serve returns when no probed shard has rows. */
  def emptyResult(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long, Double)]
      .toDF("query_id", "rnk", "neighbor_id", "dist")
  }
}
