package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.TextHashes._

/** Session-scoped cache of the corpus-derived inverted indexes the
  * dedup/text family shares: the shingle index (d04/d12/d17/t11/t19),
  * the token index (d18/d23), and the MinHash LSH band index
  * (d08/d11/d13/d14/d19/d23). Round-11 bench attribution showed the
  * whole shingle family drifting together because each consuming query
  * re-derived the same index from the raw corpus inside one session —
  * the t29/s13 "read it, don't recompute it" discipline applied at
  * family level: the first consumer builds and `localCheckpoint`s the
  * index, every later consumer (and every bench repeat) reads the
  * materialized blocks.
  *
  * At 100 TB these are exactly the persisted sidecar tables a dedup
  * campaign builds once per corpus snapshot (the shingle/band tables
  * ARE the LSH index a deployment keeps on disk); the session cache is
  * the local stand-in for reading that sidecar. Sizes are corpus-token
  * scale (8-byte hashes, no text), far below the documents themselves.
  *
  * Keyed by (session, data dir) so sf0.001 tests, sf0.01 verify and
  * sf0.1 bench never cross; entries live for the session, like the
  * sidecar lives for the snapshot.
  */
private[graft] object CorpusIndexes {

  /** Session conf key naming the DURABLE sidecar root for the data dir
    * in use. When set and `<root>/<key>` exists (and the root's
    * `_graft_source` marker names the same data dir), [[memo]] reads
    * the persisted bucketed table instead of rebuilding — the campaign
    * shape: indexes are built once per corpus SNAPSHOT by
    * [[persistSidecars]], and every later session (batch or streaming)
    * reads them from disk.
    */
  val SidecarDirKey = "graft.sidecar.dir"

  /** On-disk layout of a persistable sidecar: bucketed (and
    * sorted-within-bucket) parquet, registered in the catalog via DDL
    * so Spark trusts the co-location — an equi-join or aggregate on
    * the bucket column reads the table without an exchange, and an
    * equality filter prunes to one bucket. No partition columns: the
    * bucketed-only form keeps the disk schema (names, order, types)
    * EXACTLY the session frame's, so consumers cannot tell the forms
    * apart (the hash-identity the spec asserts).
    */
  private[graft] final case class Layout(nBuckets: Int, bucketCol: String,
                                         sortCols: Seq[String])

  /** Every persistable sidecar, keyed as in the session cache, with
    * the join/probe column each consumer family hits as bucket key.
    */
  private[ops] val layouts: Map[String, Layout] = Map(
    "shingles"       -> Layout(8, "shash", Seq("shash")),
    "tokens"         -> Layout(8, "th", Seq("th")),
    "bands"          -> Layout(8, "bkey", Seq("bkey")),
    "png_ahash"      -> Layout(8, "doc_id", Seq("doc_id")),
    "png_dhash"      -> Layout(8, "doc_id", Seq("doc_id")),
    // bucketed on the patch content key: m28's recurrence aggregate
    // groups by pkey, so the disk form aggregates without an exchange;
    // m26's manifest projection is bucket-agnostic
    "png_patches"    -> Layout(8, "pkey", Seq("pkey")),
    "text_labels_64" -> Layout(8, "doc_id", Seq("doc_id")),
    "image_labels"   -> Layout(8, "doc_id", Seq("doc_id")),
    "ivf_assigned"   -> Layout(8, "cell_id", Seq("cell_id", "vec_id")),
    // the FROZEN coarse codebook persisted next to ivf_assigned — the
    // codebook cannot be re-derived from an upserted index (appended
    // arrivals with vec_id < 16 would silently join it)
    "ivf_codebook"   -> Layout(4, "cell_id", Seq("cell_id")),
    "pq_codes"       -> Layout(8, "vec_id", Seq("vec_id")),
    // no probe join key — serving scans the 8-byte signatures; vec_id
    // bucketing spreads appends and keeps compaction deterministic
    "srp_sigs"       -> Layout(8, "vec_id", Seq("vec_id")),
    "bench_grams"    -> Layout(8, "g", Seq("g")),
    // bucketed on the digest half every consumer keys on: m15/m17 and
    // the streaming probe aggregate/join by (ahash_hi, ahash_lo), and
    // HashPartitioning(ahash_hi) satisfies a clustered distribution on
    // the pair — the digest groupBys run with zero exchanges
    "gif_frames"     -> Layout(8, "ahash_hi", Seq("ahash_hi", "ahash_lo")),
    // the duration class is the m14/m18 join key; low-cardinality
    // (7 classes), so compaction restores AT MOST one file per bucket
    "wav_fp"         -> Layout(8, "n_frames", Seq("n_frames", "doc_id")),
    // the 64-row frozen subspace codebook shipped NEXT TO pq_codes by
    // the durable PQ index (not a persistSidecars key — it derives
    // from the corpus; the index-dir form owns it)
    "pq_codebook"    -> Layout(4, "m", Seq("m", "k")),
    // the streaming cluster-maintenance door's durable label table
    // (fold target, owned by Dedup.persistMaintLabels — not a
    // persistSidecars key: it accretes from folds, not from a corpus
    // rebuild); bucketed on the consumer join column like text_labels
    "maint_labels"   -> Layout(8, "doc_id", Seq("doc_id")),
    // the IVF index's DELETE log (owned by Similarity.deleteFromIvfIndex
    // — accretes from deletes, folded away by compaction, never a
    // persistSidecars key); tiny, bucketed on the anti-join key
    "ivf_tombstones" -> Layout(4, "vec_id", Seq("vec_id")),
    // the historical positional-gram SET the span probes hit (d36 /
    // StreamingSpanDedup; owned by Dedup.persistSpanGramIndex) —
    // bucketed on the probe's equi-join key
    "span_grams"     -> Layout(8, "g", Seq("g")),
    // the PQ / SRP families' delete logs — same contract as
    // ivf_tombstones (append-only, folded by compaction)
    "pq_tombstones"  -> Layout(4, "vec_id", Seq("vec_id")),
    "srp_tombstones" -> Layout(4, "vec_id", Seq("vec_id")),
    // the text-probe and media-fingerprint delete logs (TombLog)
    "probe_tombstones" -> Layout(8, "hist_doc", Seq("hist_doc")),
    "png_tombstones"   -> Layout(8, "doc_id", Seq("doc_id")),
    "gif_tombstones"   -> Layout(8, "doc_id", Seq("doc_id")),
    "wav_tombstones"   -> Layout(8, "doc_id", Seq("doc_id")),
    // the FROZEN 64-row DSIR histogram model (owned by
    // TextOps.persistDsirModel; the StreamingDsir door's probe joins
    // on bucket)
    "dsir_model"     -> Layout(4, "bucket", Seq("bucket")),
    // the FROZEN JM bigram-LM model (owned by TextOps.persistJmModel;
    // the StreamingJm door's vocabulary-sized probe tables) — each
    // bucketed on its consumer join key
    "jm_uni"         -> Layout(4, "term", Seq("term")),
    "jm_bg"          -> Layout(4, "w1", Seq("w1", "w2")),
    "jm_ctx"         -> Layout(4, "w1", Seq("w1")))

  /** One-slot lazy holder: `computeIfAbsent` only ever constructs the
    * holder (cheap, no callback into the memo), and the build itself
    * runs when the caller forces `value` — AFTER the map operation has
    * returned. Builds that read other entries (the CC label tables
    * read the band index, the BPE tables read the trained BPE)
    * therefore re-enter the memo outside any mapping function,
    * honouring the ConcurrentHashMap contract that the mapping
    * function must not modify the map. Dependencies form a DAG, so
    * the per-holder lazy-val locks can never cycle. The lazy val also
    * serializes each key: consumers of one key wait for its one build,
    * consumers of other keys proceed.
    */
  private final class Holder(build: () => Any) {
    lazy val value: Any = build()
  }

  private val entries =
    new ConcurrentHashMap[(SparkSession, String, String), Holder]()

  /** Drop entries whose session is gone. A long-lived JVM that starts
    * and stops many sessions would otherwise pin every dead session's
    * checkpointed blocks forever; purging on access keeps the memo
    * bounded by the live sessions without needing a listener.
    */
  private def purgeStopped(): Unit = {
    val it = entries.keySet.iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
  }

  /** The one per-(session, data dir, key) memo: `build` runs once per
    * key in a session and its value lives until the session stops.
    * It holds any value: checkpointed sidecar frames ([[memo]]) and
    * driver-side results (the trained BPE, the s17/s19 Lloyd
    * codebooks, the s30/s35 candidate maps). Nothing is evicted
    * before that: every registered consumer reads one fixed key per
    * dir (BPE at 20 merges, k-means at k = 16, MMR at 12 candidates),
    * so a session holds a handful of entries per dir, each KBs of
    * driver memory or a corpus-token-scale sidecar. One key names one
    * value type; keys of driver values and of frames never overlap.
    */
  private[ops] def memoValue[T](s: SparkSession, dir: String, key: String)
                               (build: => T): T = {
    purgeStopped()
    entries.computeIfAbsent((s, dir, key), _ => new Holder(() => build))
      .value.asInstanceOf[T]
  }

  /** A session sidecar frame: read from the durable sidecar root when
    * one is configured for `dir` ([[SidecarDirKey]]), otherwise built
    * once and `localCheckpoint`ed. Sidecars owned by other ops objects
    * (the image aHash table, the CC label tables) use it too, so every
    * per-session sidecar lives in one place.
    */
  private[ops] def memo(s: SparkSession, dir: String, key: String)
                       (build: => DataFrame): DataFrame =
    memoValue(s, dir, key)(readDisk(s, dir, key).getOrElse(build.localCheckpoint()))

  // ---- durable sidecar layer -------------------------------------

  private def hadoopPath(s: SparkSession, p: String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(s.sparkContext.hadoopConfiguration), path)
  }

  private def pathExists(s: SparkSession, p: String): Boolean = {
    val (fs, path) = hadoopPath(s, p)
    fs.exists(path)
  }

  /** Sidecar schema marker: the table's schema as JSON, written with
    * every generation so an EMPTY generation (takedown emptied it)
    * stays readable by a fresh session that has no catalog entry and
    * no parquet footer to infer from.
    */
  private def schemaMarkerPath(path: String) = s"$path/_graft_table_schema"

  /** Marker writes are themselves crash-windowed (create truncates
    * before the bytes land), so the marker goes to a `.tmp` sibling
    * first and renames over — and the reader falls back to a complete
    * `.tmp` left by a crash between the delete and the rename. A
    * partially-written `.tmp` (crash mid-write) parses as garbage and
    * is ignored; in that state the main marker is still intact,
    * because the delete only happens after the tmp write closed.
    */
  private[graft] def writeSchemaMarker(s: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val (fs, p) = hadoopPath(s, schemaMarkerPath(path))
    val (_, tp) = hadoopPath(s, schemaMarkerPath(path) + ".tmp")
    val out = fs.create(tp, true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    require(fs.rename(tp, p), s"schema marker rename failed under $path")
  }

  private def readSchemaMarker(s: SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    def parse(at: org.apache.hadoop.fs.Path,
              fs: org.apache.hadoop.fs.FileSystem) =
      scala.util.Try {
        val in = fs.open(at)
        val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      }.toOption
    val (fs, p) = hadoopPath(s, schemaMarkerPath(path))
    val (_, tp) = hadoopPath(s, schemaMarkerPath(path) + ".tmp")
    (if (fs.exists(p)) parse(p, fs) else None)
      .orElse(if (fs.exists(tp)) parse(tp, fs) else None)
  }

  /** Existence probe for sidecar tables owned by other ops objects
    * (the IVF codebook's back-compat branch).
    */
  private[ops] def sidecarPathExists(s: SparkSession, p: String): Boolean =
    pathExists(s, p)

  /** The delete-log (tombstone) lifecycle shared by EVERY durable
    * index family — IVF/PQ/SRP, the text probe tables, the media
    * fingerprints — implemented once at the layer that owns bucketed
    * tables: append-only log keyed `keyCol`, read-time masking,
    * re-add guarding, and the compaction FOLD. Folding clears EXACTLY
    * the rows it folded — an anti-join rewrite of the log against the
    * pinned snapshot, never a wholesale drop. Like every index
    * mutation, delete/refresh/fold are serialized by the index
    * owner's maintenance window (the guardArrivals contract below):
    * the anti-join is NOT a concurrency primitive — an append racing
    * the log's own compact swap can still land in the set-aside
    * generation — it exists so the cleared set provably equals the
    * folded set (a wholesale drop clears strictly more than was
    * folded whenever a delete lands between the pin and the drop,
    * even under coarse serialization). A fully-folded log compacts to
    * a row-less table, which [[hasRows]] reads as "no log" (so schema
    * inference never sees an empty directory and the next append
    * starts a fresh generation).
    */
  private[ops] final case class TombLog(root: String, key: String,
                                        keyCol: String) {
    val path = s"$root/$key"
    private val tbl = tableName(root, key)
    // Honor the registered layout when the key has one (the sim-family
    // logs predate this helper with 4 buckets — a mismatched bucket
    // count would silently misread an existing on-disk generation).
    private val lay = layouts.getOrElse(key, Layout(8, keyCol, Seq(keyCol)))
    require(lay.bucketCol == keyCol,
      s"TombLog $key: registered layout buckets on ${lay.bucketCol}, not $keyCol")

    private def hasRows(s: SparkSession): Boolean = hasParquet(s, path, recursive = false)

    /** Append distinct ids (a frame bearing `keyCol`) to the log. */
    def append(ids: DataFrame): Unit =
      writeBucketedTable(ids.select(col(keyCol)).distinct(), path, tbl, lay,
        append = hasRows(ids.sparkSession))

    /** The live log, if any unfolded tombstone exists. */
    def load(s: SparkSession): Option[DataFrame] =
      if (hasRows(s)) Some(readBucketedTable(s, path, tbl, lay)) else None

    /** Serve `frame` minus the log (no-op when no deletes exist). */
    def mask(frame: DataFrame): DataFrame =
      load(frame.sparkSession)
        .map(ts => frame.join(ts, Seq(keyCol), "left_anti"))
        .getOrElse(frame)

    /** Reject arrivals (a frame bearing `keyCol`) that are tombstoned:
      * a re-add before the fold would be stranded behind the serving
      * mask forever. NOTE the check-then-append of the callers is a
      * maintenance-op convention, not a concurrency primitive: index
      * mutations (refresh/delete/compact) are serialized by the index
      * owner's maintenance window (the compactTextProbeIndex contract)
      * — the guard catches operator error, not a concurrent delete
      * racing the append.
      */
    def guardArrivals(arrivals: DataFrame, op: String): Unit =
      load(arrivals.sparkSession).foreach { ts =>
        val clash = arrivals.select(col(keyCol))
          .join(ts, Seq(keyCol), "left_semi").count()
        require(clash == 0L,
          s"$op: $clash arrival id(s) are tombstoned in $root; compact " +
            "to fold the delete log before re-adding deleted ids")
      }

    /** Compact `tables` (path, tbl, layout), folding the log in when
      * one exists: tombstoned rows become physically absent from every
      * new generation, and the log keeps ONLY rows appended after the
      * fold's snapshot. The snapshot pin is unpersisted on the way out
      * (a long session folding on a cadence must not accumulate dead
      * checkpoint blocks).
      */
    def foldInto(s: SparkSession,
                 tables: Seq[(String, String, Layout)]): Unit = {
      // The LOG's own compact (it folds itself last) may have crashed
      // mid-swap: heal it BEFORE load() decides whether tombstones
      // exist — the member tables heal inside their own compact calls,
      // but load() runs first and would read the crashed state.
      recoverSwap(s, path)
      load(s) match {
        case None =>
          tables.foreach { case (p, t, l) => compactBucketedTable(s, p, t, l) }
        case Some(ts) =>
          // Pin the log before any rewrite: the swap must not race a
          // lazy reader, and the cleared rows must be exactly the ones
          // folded into EVERY table.
          val pinned = graft.Pinned(ts)
          try {
            tables.foreach { case (p, t, l) =>
              compactBucketedTable(s, p, t, l,
                df => df.join(pinned.df, Seq(keyCol), "left_anti"))
            }
            compactBucketedTable(s, path, tbl, lay,
              df => df.join(pinned.df, Seq(keyCol), "left_anti"))
          } finally pinned.release()
      }
    }
  }

  /** The marker file binding a sidecar root to its source corpus dir —
    * the guard against serving one corpus's indexes to another. Plain
    * Hadoop-FS IO so the root can live on any filesystem Spark reads.
    */
  private def markerPath(root: String) = s"$root/_graft_source"

  private def writeMarker(s: SparkSession, root: String, dir: String): Unit = {
    val (fs, path) = hadoopPath(s, markerPath(root))
    val out = fs.create(path, true)
    try out.write(dir.getBytes("UTF-8")) finally out.close()
  }

  private def readMarker(s: SparkSession, root: String): Option[String] = {
    val (fs, path) = hadoopPath(s, markerPath(root))
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try Some(new String(in.readAllBytes(), "UTF-8").trim)
      finally in.close()
    }
  }

  /** Catalog-safe, root-stable table name: one catalog entry per
    * (sidecar root, key), shared by every session on the SparkContext.
    */
  private[graft] def tableName(root: String, key: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(root.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"graft_sc_${key}_$h"
  }

  /** TEST-ONLY crash injection for the generation-swap windows: called
    * with a named point between every pair of filesystem steps in
    * [[writeBucketedTable]]/[[compactBucketedTable]]; a test assigns a
    * throwing hook to simulate a crash at exactly that point, then
    * proves the next maintenance call recovers. Production value is
    * the no-op.
    */
  private[graft] var crashHook: String => Unit = _ => ()

  /** Heal a generation swap that crashed between filesystem steps —
    * runs at the entry of every path that writes or compacts a
    * generation, so "recoverable" means BY THE NEXT MAINTENANCE CALL,
    * not by hand. The swap protocol (new generation fully written to
    * `path__<sfx>` INCLUDING its schema marker, live renamed aside to
    * `path__old`, new renamed in, `__old` deleted) leaves four
    * distinguishable crash states, each with one safe move:
    *   - live present + sibling tmp present: crash before any rename —
    *     the tmp is an abandoned draft; delete it, live is truth.
    *   - live present + `__old` present: crash after the swap-in but
    *     before the cleanup delete — live is the NEW generation;
    *     finish the delete.
    *   - live MISSING + tmp with a schema marker: crash between the
    *     two renames with the new generation complete (the marker is
    *     written before any rename, so its presence certifies
    *     completeness) — roll FORWARD: rename tmp in, drop `__old`.
    *   - live MISSING + tmp absent/markerless + `__old` present: the
    *     new generation never completed — roll BACK: rename `__old`
    *     in. (The only non-readable instant is between the two
    *     renames; it is bounded by two metadata ops and healed here.)
    */
  private[graft] def recoverSwap(s: SparkSession, path: String,
      tmpSuffixes: Seq[String] = Seq("__compact", "__new")): Unit = {
    val (fs, p) = hadoopPath(s, path)
    val (_, op) = hadoopPath(s, path + "__old")
    val tmps = tmpSuffixes.map(sfx => hadoopPath(s, path + sfx)._2)
    // the completeness certificate is THE schema marker — derive its
    // name from schemaMarkerPath so certificate and marker cannot drift
    def tmpComplete(tp: org.apache.hadoop.fs.Path) =
      fs.exists(tp) &&
        fs.exists(hadoopPath(s, schemaMarkerPath(tp.toString))._2)
    if (!fs.exists(p)) {
      tmps.find(tmpComplete) match {
        case Some(tp) =>
          require(fs.rename(tp, p), s"recoverSwap: roll-forward rename failed for $path")
        case None if fs.exists(op) =>
          require(fs.rename(op, p), s"recoverSwap: roll-back rename failed for $path")
        case None => () // nothing of this table ever existed here
      }
    }
    if (fs.exists(p)) { // only clean aside dirs once a live dir is certain
      if (fs.exists(op)) fs.delete(op, true)
      tmps.foreach(tp => if (fs.exists(tp)) fs.delete(tp, true))
    }
  }

  /** The two-rename generation swap shared by [[writeBucketedTable]]
    * (overwrite) and [[compactBucketedTable]]: live aside, tmp in,
    * aside deleted. `tmpPath` must already hold the COMPLETE new
    * generation including its schema marker — the marker doubles as
    * the roll-forward certificate [[recoverSwap]] keys on.
    */
  private def swapIntoPlace(s: SparkSession, path: String, tmpPath: String): Unit = {
    val (fs, p) = hadoopPath(s, path)
    val (_, tp) = hadoopPath(s, tmpPath)
    val (_, op) = hadoopPath(s, path + "__old")
    if (fs.exists(op)) fs.delete(op, true)
    val hadLive = fs.exists(p)
    if (hadLive) {
      require(fs.rename(p, op), s"swap: could not set aside $path")
      crashHook("live-aside")
    }
    if (!fs.rename(tp, p)) {
      // restore the original before failing: the live path must never
      // be left empty longer than the failed rename itself
      if (hadLive) fs.rename(op, p)
      sys.error(s"swap: could not move $tmpPath into place")
    }
    crashHook("swapped-in")
    if (hadLive) fs.delete(op, true)
  }

  /** Write `df` as a bucketed external parquet table at `path`. The
    * frame is repartitioned to the bucket count on the bucket column
    * first, so the layout is exactly one file per bucket — at campaign
    * scale a writer keeps more write parallelism, but the bucket
    * function (and thus the read-side co-location) is identical.
    * With `append = true` the rows land as NEW bucket files next to
    * the existing ones (same bucket function, so co-location is
    * preserved) — the incremental-refresh path; the table must
    * already exist on disk and is registered first if this session
    * has not seen it.
    */
  private[graft] def writeBucketedTable(df: DataFrame, path: String,
      tbl: String, lay: Layout, append: Boolean = false): Unit = {
    val s = df.sparkSession
    recoverSwap(s, path) // heal any crashed prior swap before touching the table
    if (append) {
      // In append mode the marker must record the TABLE's schema, not
      // the arriving slice's: saveAsTable append resolves columns by
      // name, so a slice with a different column order would succeed —
      // and a slice-order marker would later register a fresh session's
      // catalog entry in the wrong positional order. Appends add files
      // next to an existing generation whose marker is already on
      // disk, so there is no no-marker crash window on this path.
      val tableSchema = readBucketedTable(s, path, tbl, lay).schema
      df.repartition(lay.nBuckets, col(lay.bucketCol))
        .write.mode("append").option("path", path)
        .bucketBy(lay.nBuckets, lay.bucketCol)
        .sortBy(lay.sortCols.head, lay.sortCols.tail: _*)
        .format("parquet").saveAsTable(tbl)
      writeSchemaMarker(s, path, tableSchema)
    } else {
      // Overwrite goes through the same sibling-then-swap discipline as
      // compaction (the round-19 advice): a direct overwrite deletes
      // the directory — old marker included — before the new files
      // land, so a crash after an EMPTY dataframe's write (zero part
      // files) and before the marker write would leave a generation
      // with no files AND no marker, which readBucketedTable hard-errors
      // on. Writing the full generation (marker included) to `__new`
      // and swapping closes that window: the live path always holds a
      // complete generation, and recoverSwap heals a death mid-swap.
      val tmpPath = path + "__new"
      val tmpTbl = tbl + "__new"
      s.sql(s"DROP TABLE IF EXISTS $tmpTbl")
      df.repartition(lay.nBuckets, col(lay.bucketCol))
        .write.mode("overwrite").option("path", tmpPath)
        .bucketBy(lay.nBuckets, lay.bucketCol)
        .sortBy(lay.sortCols.head, lay.sortCols.tail: _*)
        .format("parquet").saveAsTable(tmpTbl)
      crashHook("tmp-written")
      writeSchemaMarker(s, tmpPath, df.schema)
      crashHook("marker-written")
      swapIntoPlace(s, path, tmpPath)
      s.sql(s"DROP TABLE IF EXISTS $tmpTbl")
      // re-register the table at its (unchanged) location so the
      // writing session serves it exactly as saveAsTable used to.
      // refresh-not-drop when the entry already matches: dropping and
      // recreating an unchanged entry opens a window in which a
      // concurrent serving trigger (the takedown door's contract lets
      // the serving query keep running) resolves a missing table.
      registerOrRefresh(s, path, tbl, lay, df.schema)
      ()
    }
  }

  /** Serialize driver-side catalog registration: two queries in one
    * JVM (the takedown door appending to the log while a serving door
    * registers it on first sight) must not both pass a tableExists
    * check and both issue CREATE. Catalog reads/writes here are
    * driver-only, so a JVM-wide monitor is the correct scope.
    */
  private val catalogLock = new Object

  /** Point the catalog entry `tbl` at the (possibly new) generation
    * under `path`: refresh in place when the entry already exists with
    * the same column names+types (the common case — swaps keep the
    * location and schema), drop-and-recreate only on a real schema
    * change. A racing CREATE from another thread is tolerated: the
    * loser refreshes the winner's entry.
    */
  private def registerOrRefresh(s: SparkSession, path: String, tbl: String,
      lay: Layout, schema: org.apache.spark.sql.types.StructType): Unit =
    catalogLock.synchronized {
      def sig(st: org.apache.spark.sql.types.StructType) =
        st.fields.map(f => (f.name, f.dataType)).toSeq
      if (s.catalog.tableExists(tbl) && sig(s.table(tbl).schema) == sig(schema)) {
        s.catalog.refreshTable(tbl)
      } else {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        // all-nullable: footer-inferred registration was always
        // nullable; a NOT NULL carried in from df.schema would be a
        // silent DDL behavior change (asNullable is private[spark])
        val nullable = org.apache.spark.sql.types.StructType(
          schema.fields.map(_.copy(nullable = true)))
        try registerDDL(s, path, tbl, lay, nullable.toDDL)
        catch { case _: org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException =>
          s.catalog.refreshTable(tbl)
        }
      }
    }

  private def registerDDL(s: SparkSession, path: String, tbl: String,
      lay: Layout, schemaDDL: String): Unit =
    s.sql(s"CREATE TABLE $tbl ($schemaDDL) USING PARQUET " +
      s"CLUSTERED BY (${lay.bucketCol}) " +
      s"SORTED BY (${lay.sortCols.mkString(", ")}) " +
      s"INTO ${lay.nBuckets} BUCKETS LOCATION '$path'")

  /** Register (if absent) and read the bucketed table written by
    * [[writeBucketedTable]]. The DDL re-issued here is the catalog
    * entry a deployment's metastore keeps; column list comes from the
    * parquet footer, so the schema is byte-authoritative. Registration
    * is double-checked under [[catalogLock]]: two doors seeing the
    * table for the first time in the same trigger must not both CREATE.
    */
  private[graft] def readBucketedTable(s: SparkSession, path: String,
      tbl: String, lay: Layout): DataFrame = {
    if (!s.catalog.tableExists(tbl)) catalogLock.synchronized {
      if (!s.catalog.tableExists(tbl)) {
        // Footer inference needs a data file; an EMPTY generation (a
        // takedown wave deleted every row, then the fold compacted) has
        // none — the schema marker written with each generation is the
        // fallback that keeps the emptied index readable.
        val schemaDDL =
          if (hasParquet(s, path, recursive = false)) s.read.parquet(path).schema.toDDL
          else readSchemaMarker(s, path).map(_.toDDL).getOrElse(sys.error(
            s"readBucketedTable: $path holds no parquet files and no " +
              "schema marker — not a generation this engine wrote"))
        registerDDL(s, path, tbl, lay, schemaDDL)
      }
    }
    s.table(tbl)
  }

  /** Rewrite a bucketed sidecar table back to ONE file per bucket —
    * the maintenance pass a durable index needs after incremental
    * appends (each [[writeBucketedTable]] append lands a new file per
    * bucket; a daily-refresh campaign accumulates hundreds, and
    * per-file open/footer cost starts to dominate the probe reads).
    * Read-then-swap, never in-place: the compacted form is written to
    * a sibling `__compact` path while the original files are still
    * being read, then swapped into place by TWO renames — the live
    * directory aside to `__old`, the compacted one in — so there is
    * no instant at which `path` has been deleted but nothing renamed
    * in yet (a crash between the renames leaves the complete new
    * generation at `__compact` and the old at `__old`; [[recoverSwap]]
    * rolls forward or back AUTOMATICALLY at the next maintenance or
    * write call — crash states are injected and proven recoverable in
    * SidecarDiskSpec; a failure of the second rename restores the
    * original inline). Concurrency
    * caveat: `__old` is deleted IMMEDIATELY after the swap, so only
    * readers with already-OPEN handles on the old part files are safe;
    * a concurrent reader that resolved paths but has not yet opened
    * them races the delete (FileNotFound on HDFS/object stores, and
    * locally for not-yet-opened files), and a LISTING during the
    * rename window can observe the swap. Compaction therefore assumes
    * a maintenance window, or root rotation where true
    * reader-concurrent compaction is needed. Rows, schema,
    * bucket function and within-bucket sort are IDENTICAL — consumers
    * cannot observe the compaction except through file counts
    * (asserted in SidecarDiskSpec).
    */
  /** `transform` filters/rewrites the rows on their way into the
    * compacted generation (identity by default) — the seam index
    * compaction uses to FOLD a delete log in: tombstoned rows are
    * physically absent from the new files, not masked at read time.
    * The transform must not read from `path` itself (the rewrite
    * swaps it out from under a lazy reader).
    */
  private[graft] def compactBucketedTable(s: SparkSession, path: String,
      tbl: String, lay: Layout,
      transform: DataFrame => DataFrame = identity): Unit = {
    recoverSwap(s, path) // heal any crashed prior swap first
    // An EMPTY generation (takedown deleted every row, a prior fold
    // compacted) holds zero part files: there is nothing to rewrite —
    // and the plain parquet read below would die on footer inference.
    // But the fold TRANSFORM may still change the schema a reader
    // registers under (a projecting/renaming fold), so the marker is
    // rewritten through the transform applied to an empty frame of the
    // current marker schema — a stale marker would otherwise register
    // the wrong DDL for the emptied table after such a fold.
    if (!hasParquet(s, path, recursive = false)) {
      readSchemaMarker(s, path).foreach { sch =>
        val empty = s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
        val folded = transform(empty).schema
        if (folded != sch) writeSchemaMarker(s, path, folded)
      }
      return
    }
    val tmpPath = path + "__compact"
    val tmpTbl = tbl + "__compact"
    s.sql(s"DROP TABLE IF EXISTS $tmpTbl")
    // Read the files as PLAIN parquet, not through the registered
    // bucketed table: the bucketed read advertises the target
    // partitioning and the planner then elides the repartition, leaving
    // size-packed read tasks that each spray files into several buckets
    // (measured: a 2-generation table "compacted" into MORE files).
    // With an unknown-partitioning scan the shuffle really runs, its
    // hash IS the bucket function, and each task writes exactly one
    // bucket file.
    val source = s.read.parquet(path)
    val compacted = transform(source)
    compacted
      .repartition(lay.nBuckets, col(lay.bucketCol))
      .write.mode("overwrite").option("path", tmpPath)
      .bucketBy(lay.nBuckets, lay.bucketCol)
      .sortBy(lay.sortCols.head, lay.sortCols.tail: _*)
      .format("parquet").saveAsTable(tmpTbl)
    // The marker must TRAVEL WITH the directory swap: written into
    // tmpPath before the renames, so no crash window exists in which
    // the live path holds zero part files and no marker (an emptied
    // generation would otherwise be unreadable with __old already
    // gone). Schema is the POST-transform shape — the rows actually
    // written — not the source's (a projecting fold would otherwise
    // register a stale DDL for an emptied table).
    crashHook("tmp-written")
    writeSchemaMarker(s, tmpPath, compacted.schema)
    crashHook("marker-written")
    swapIntoPlace(s, path, tmpPath)
    s.sql(s"DROP TABLE IF EXISTS $tmpTbl")
    // A fresh session may compact a root it never registered — the
    // files are authoritative, the catalog entry (if any) just needs
    // its cached listing dropped.
    if (s.catalog.tableExists(tbl)) s.catalog.refreshTable(tbl)
  }

  private def readDisk(s: SparkSession, dir: String, key: String): Option[DataFrame] =
    for {
      root <- s.conf.getOption(SidecarDirKey)
      lay  <- layouts.get(key)
      src  <- readMarker(s, root) if src == dir
      path = s"$root/$key" if pathExists(s, path)
    } yield readBucketedTable(s, path, tableName(root, key), lay)

  /** Builders for every persistable sidecar — each returns the SESSION
    * form (memoized + checkpointed), so persisting is write-through:
    * build once, write once, and the writing session keeps serving
    * from memory while every later session reads the disk table.
    */
  private def builders(s: SparkSession, dir: String): Map[String, () => DataFrame] = Map(
    "shingles"       -> (() => shingles(s, dir)),
    "tokens"         -> (() => tokens(s, dir)),
    "bands"          -> (() => minhashBands(s, dir)),
    "png_ahash"      -> (() => Multimodal.ahashSidecarFrame(s, dir)),
    "png_dhash"      -> (() => Multimodal.dhashSidecarFrame(s, dir)),
    "png_patches"    -> (() => Multimodal.patchTable(s, dir)),
    "text_labels_64" -> (() => Dedup.dupClusterLabels(s, dir)),
    "image_labels"   -> (() => Multimodal.imageClusterLabels(s, dir)),
    "ivf_assigned"   -> (() => Similarity.ivfAssigned(s, dir)),
    "pq_codes"       -> (() => Similarity.pqCodesFrame(s, dir)),
    "srp_sigs"       -> (() => Similarity.srpSigsFrame(s, dir)),
    "bench_grams"    -> (() => benchGrams(s, dir)),
    "gif_frames"     -> (() => Multimodal.gifFramesSidecar(s, dir)),
    "wav_fp"         -> (() => Multimodal.wavFpSidecar(s, dir)))

  /** All sidecar keys [[persistSidecars]] writes by default. */
  val persistableKeys: Seq[String] = Seq("shingles", "tokens", "bands",
    "png_ahash", "text_labels_64", "image_labels", "ivf_assigned", "pq_codes",
    "bench_grams", "gif_frames", "wav_fp", "srp_sigs", "png_dhash",
    "png_patches")

  /** Read ONE persisted sidecar table from a root, registered with its
    * bucket layout — for consumers that take the index as an explicit
    * frame (the streaming jobs' snapshot-rotation path) rather than
    * through the session conf.
    */
  def readSidecar(s: SparkSession, root: String, key: String): DataFrame =
    readBucketedTable(s, s"$root/$key", tableName(root, key), layouts(key))

  /** Write the corpus snapshot's sidecar tables under `outDir` — the
    * once-per-snapshot index build a 100 TB campaign runs before its
    * query/streaming sessions. Each table lands bucketed on its
    * consumers' join column; the `_graft_source` marker pins the
    * snapshot so a mismatched corpus never reads them. Point any later
    * session at the root via `spark.conf.set(SidecarDirKey, outDir)`
    * and every CorpusIndexes consumer — batch queries and the
    * streaming jobs alike — reads the disk form transparently.
    */
  def persistSidecars(s: SparkSession, dir: String, outDir: String,
                      keys: Seq[String] = persistableKeys): Unit = {
    val bs = builders(s, dir)
    keys.foreach { key =>
      writeBucketedTable(bs(key)(), s"$outDir/$key",
        tableName(outDir, key), layouts(key))
    }
    writeMarker(s, outDir, dir)
  }

  /** Compact every sidecar table under a [[persistSidecars]] root back
    * to one file per bucket — the snapshot-maintenance twin of
    * [[graft.ops.Dedup.compactTextProbeIndex]] for roots that have seen
    * incremental appends. The `_graft_source` marker is untouched:
    * compaction changes layout, never provenance.
    */
  def compactSidecars(s: SparkSession, root: String,
                      keys: Seq[String] = persistableKeys): Unit =
    keys.foreach { key =>
      val path = s"$root/$key"
      // heal BEFORE the existence guard: a swap that crashed between
      // its renames leaves the live path missing (only __old/__compact
      // exist) — guarding on pathExists alone would skip exactly the
      // table that needs recovery
      recoverSwap(s, path)
      if (pathExists(s, path))
        compactBucketedTable(s, path, tableName(root, key), layouts(key))
    }

  /** (doc_id, nsh, shash): the exploded word-3-gram shingle inverted
    * index — one codegen'd `shingle_hashes` pass over the corpus.
    */
  /** (g): the distinct benchmark 4-gram hash set — the decontamination
    * fingerprint five consumers probe (t16, t32, t34, d25, d26). Tiny
    * by nature (~1 % of docs' distinct grams), so every consumer
    * broadcasts it; as a persisted sidecar it is exactly the artifact
    * a decontamination service ships next to the eval suite.
    */
  def benchGrams(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "bench_grams") {
      import s.implicits._
      documents(s, dir).filter($"doc_id" % 97 === 0)
        .select(explode(ngram_hashes($"text", 4)).as("g"))
        .distinct()
    }

  def shingles(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "shingles") {
      import s.implicits._
      documents(s, dir)
        .select($"doc_id", shingle_hashes($"text").as("sh"))
        .select($"doc_id", size($"sh").as("nsh"), explode($"sh").as("shash"))
    }

  /** (doc_id, th): the token inverted index (h32 per token) the
    * true-Jaccard recounts probe.
    */
  def tokens(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "tokens") {
      import s.implicits._
      documents(s, dir)
        .select($"doc_id", explode(token_hashes($"text")).as("th"))
    }

  /** (band, bkey, doc_id): the MinHash LSH band index — one codegen'd
    * `minhash_bands` pass over the corpus.
    */
  def minhashBands(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "bands") {
      import s.implicits._
      documents(s, dir)
        .select($"doc_id", posexplode(minhash_bands($"text")))
        .select($"pos".as("band"), $"col".as("bkey"), $"doc_id")
    }
}
