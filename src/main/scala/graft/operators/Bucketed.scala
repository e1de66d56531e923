package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Join-layout operators for the 100-TB posture.
  *
  * Q43 — co-located join via bucketing: both sides pre-hashed into the
  * same bucket layout on the join key, so the join runs with ZERO shuffle
  * of either fact table — the 100-TB pattern for repeated joins on a
  * stable key (bucket once at ingest, join free forever after).
  *
  * The query writes `orders`/`customer` bucketed by custkey (8 buckets,
  * sorted) into the session warehouse, then joins the bucketed tables
  * with autoBroadcast disabled so the planner must prove the co-location
  * (SortMergeJoin with no Exchange below it — asserted in PlanSpec).
  * Oracle: the identical join+agg in plain SQL.
  *
  * Q48 — salted join for skewed keys: when one join key carries a
  * disproportionate share of rows, hash partitioning sends that key's
  * entire volume to ONE reducer and the stage runs at the speed of its
  * hottest task. Salting splits each hot key into `SaltFanout` synthetic
  * sub-keys: the fact side gets a deterministic salt, the (smaller) build
  * side is replicated once per salt value, and the join runs on
  * (key, salt) — spreading each hot key over `SaltFanout` tasks. AQE's
  * skew-join split covers the sort-merge case automatically at runtime;
  * explicit salting is the portable form that also works where AQE
  * cannot re-plan (stream-stream joins, aggregation pipelines feeding
  * the join, fixed bucket layouts).
  */
object Bucketed {
  import Q._

  /** Salt fanout for Q48 — how many sub-keys each hot key spreads over. */
  val SaltFanout = 8

  /** Drop-and-recreate a bucketed parquet table in the session warehouse
    * and return the freshly-written table. The warehouse dir outlives the
    * in-memory catalog, so both the catalog entry and any stale location
    * from a previous session are removed first. This is the write-once
    * half of every "bucket at ingest, join free forever after" layout
    * (q43's fact tables, q89's corpus band table, the staged dedup
    * labels artifact).
    */
  private[graft] def rewriteBucketed(s: SparkSession, db: String,
      name: String, df: DataFrame, buckets: Int,
      keys: Seq[String]): DataFrame = {
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    s.sql(s"DROP TABLE IF EXISTS $db.$name")
    val loc = warehousePath(s, db, name)
    val fs = fsOf(s, loc)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.format("parquet").bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(s"$db.$name")
    s.table(s"$db.$name")
  }

  /** `<warehouse>/<db>.db/<leaf>` resolved against the session's
    * configured warehouse — NOT a hardcoded local path, so a relocated
    * or object-store warehouse keeps markers/locks/table dirs in the
    * same namespace (same bucket, same durability) as the tables they
    * protect. All existence/create/delete goes through the Hadoop
    * FileSystem of the path's own scheme, mirroring the CC-resume
    * listing in [[Dedup.connectedComponentsRounds]].
    */
  private def warehousePath(s: SparkSession, db: String,
      leaf: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir", "/tmp/graft-warehouse"),
      s"$db.db"), leaf)

  private def fsOf(s: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Per-sf-dir database name, so tiers never read each other's tables.
    * A digest, not `math.abs(d.hashCode)` (round-14 review): hashCode
    * collides across distinct tier paths (two colliding dirs would
    * silently SHARE a db and overwrite each other's artifacts), and
    * abs(Int.MinValue) is negative, which parses as an invalid db name.
    * 12 hex chars of MD5 make collision odds negligible and the name
    * always identifier-safe; the digest is stable across JVMs.
    */
  private[graft] def dbFor(d: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    "graft_b" + md.take(6).map(b => f"$b%02x").mkString
  }

  // ---- write-once staged-artifact registry -------------------------------
  //
  // Guarantees for tables built once and consumed many times (dup_labels,
  // q89_corpus_bands):
  //  - memo key is a per-session UUID from a WeakHashMap, NOT
  //    System.identityHashCode (which can collide across sessions or repeat
  //    after GC and silently skip a needed rewrite);
  //  - the memo records the SOURCE parquet's mtime at write time and
  //    re-validates it (plus catalog existence) on every lookup, so a
  //    regenerated tier within one session triggers a rewrite instead of
  //    serving stale labels;
  //  - a JVM-global per-(db, table) lock serializes rewrites across
  //    sessions, so one session's DROP + recursive delete cannot tear the
  //    files out from under another session's in-flight write. (A reader
  //    executing a previously-returned lazy scan concurrently with a
  //    rewrite is still possible — callers that share a tier across
  //    concurrent sessions should scope the tier dir per session.)

  private val sessionIds = new java.util.WeakHashMap[SparkSession, String]()
  private def sessionId(s: SparkSession): String = sessionIds.synchronized {
    var id = sessionIds.get(s)
    if (id == null) {
      id = java.util.UUID.randomUUID().toString
      sessionIds.put(s, id)
    }
    id
  }
  /** (sessionUUID:db.table) -> source mtime observed at write. */
  private val artifactWritten =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val artifactLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `f` holding the per-(db, table) artifact lock — the same lock
    * [[writeOnceBucketed]] serializes builds under, so a maintenance
    * operation (a [[Store]] swap's drop/rename/truncate) can exclude
    * concurrent in-JVM builders and readers-that-build of the SAME
    * tables. Multi-table callers must acquire in sorted-name order.
    */
  private[graft] def withArtifactLock[T](db: String, name: String)(
      f: => T): T = {
    val lock = artifactLocks.computeIfAbsent(s"$db.$name", _ => new Object)
    lock.synchronized(f)
  }

  // ---- staged stores: one swap, one recovery -----------------------------
  //
  // A staged store is a base table, a delta table beside it and a redo
  // marker; a versioned store adds a one-row meta table holding its as-of
  // floor and a version column on its delta rows. Compaction and vacuum
  // are ONE swap that differs only in what the delta keeps:
  //
  //   1. write the merged segment to `<base>_next`       [new segment]
  //   2. create the redo marker (a vacuum's holds its    [intent]
  //      horizon)
  //   3. DROP base; RENAME _next → base                   [catalog swap]
  //   4. reset the delta: empty (compaction) or the       [reset]
  //      `ver > horizon` suffix (vacuum); a vacuum then
  //      writes the horizon to meta
  //   5. delete the marker
  //
  // Steps 3–5 are the roll-forward, and the swap runs the very code
  // recovery runs: a marker found later (a crashed driver's, read by
  // its replacement or by any serving path) replays them idempotently —
  // `_next` present → finish the promote; the reset and the meta write
  // repeat harmlessly. What the dangerous window (rename committed,
  // delta stale) means is the merge's: an append-union store would
  // serve delta rows twice without the marker (q122), a latest-wins or
  // subtractive store serves identically either way (q126/q130/q155/
  // q167) — each family's crash spec pins its own reading.
  //
  // Everything runs under the base's and then the delta's artifact lock
  // (the meta lock is taken last, inside them — callers must keep any
  // independent acquisition in the same base → delta → meta order) PLUS,
  // for the swap, an FS lease on the base artifact: the JVM locks
  // exclude in-process racers; the lease file excludes a REPLACED
  // maintenance driver (drivers are replaceable, and a local-only lock
  // would let old and new drivers interleave a swap). Marker, lease,
  // meta and table dirs all live under the SAME warehouse namespace
  // ([[warehousePath]]) and go through the Hadoop FileSystem of that
  // namespace's scheme — on object storage they share the tables'
  // bucket and durability, and a crashed driver's marker is visible to
  // its replacement.

  /** One staged base/delta store: its base, delta and redo-marker names,
    * its bucket layout and — for a versioned store — its meta table and
    * version column. The value names tables only; every verb takes the
    * database, so one declaration serves every tier.
    */
  private[graft] final case class Store(base: String, delta: String,
      marker: String, buckets: Int, keys: Seq[String],
      meta: Option[String] = None, verCol: String = "ver") {

    /** Write-once base / delta tables in this store's layout
      * ([[writeOnceBucketed]]).
      */
    def stageBase(s: SparkSession, db: String, srcPath: String)(
        df: => DataFrame): DataFrame =
      writeOnceBucketed(s, db, base, srcPath, df, buckets, keys)
    def stageDelta(s: SparkSession, db: String, srcPath: String)(
        df: => DataFrame): DataFrame =
      writeOnceBucketed(s, db, delta, srcPath, df, buckets, keys)

    /** Rewrite both tables from `baseDf` and `deltaDf` unconditionally. */
    def restage(s: SparkSession, db: String, baseDf: DataFrame,
        deltaDf: DataFrame): Unit = {
      rewriteBucketed(s, db, base, baseDf, buckets, keys)
      rewriteBucketed(s, db, delta, deltaDf, buckets, keys)
    }

    /** Fold `merged` (evaluated under the locks, against the recovered
      * pre-swap state) into the base and empty the delta.
      */
    def compact(s: SparkSession, db: String, merged: => DataFrame): Unit =
      swap(s, db, merged, None)

    /** Fold the delta rows with version ≤ `horizon` into the base (the
      * caller's `merged` is the view as of the horizon) and KEEP the rows
      * above it — the retention GC that bounds the override chain by the
      * retention window, never by total folded mass. The marker carries
      * the horizon, so a crash between the base swap and the delta
      * rewrite replays the exact filter; meta records the as-of floor.
      */
    def vacuum(s: SparkSession, db: String, horizon: Long,
        merged: => DataFrame): Unit = {
      require(meta.isDefined, s"$base is not a versioned store")
      swap(s, db, merged, Some(horizon))
    }

    /** Roll an interrupted swap forward (idempotent; no-op without the
      * marker). Run by the swap and by every serving path.
      */
    def recover(s: SparkSession, db: String): Unit =
      locked(db)(recoverLocked(s, db))

    /** The store's durable as-of floor (0 until the first vacuum). An
      * EMPTY meta table (crash mid-rewrite, external truncation) is the
      * same floor as a missing one: max() over zero rows is NULL, which
      * must read as 0, not throw. Held under the meta table's own lock:
      * the meta write is a drop-and-recreate, so an unlocked read could
      * observe the dropped table and return floor 0 — admitting an as-of
      * read BELOW the real horizon, the silent wrong answer the floor
      * exists to prevent.
      */
    def horizon(s: SparkSession, db: String): Long =
      withArtifactLock(db, metaTable) {
        if (s.catalog.databaseExists(db) &&
            s.catalog.tableExists(s"$db.$metaTable")) {
          val row = s.table(s"$db.$metaTable")
            .select(max(col("horizon"))).head()
          if (row.isNullAt(0)) 0L else row.getLong(0)
        } else 0L
      }

    private def metaTable: String = meta.getOrElse(
      throw new IllegalStateException(s"$base is not a versioned store"))

    private def locked[T](db: String)(f: => T): T =
      withArtifactLock(db, base)(withArtifactLock(db, delta)(f))

    private def swap(s: SparkSession, db: String, merged: => DataFrame,
        horizon: Option[Long]): Unit =
      locked(db) {
        withFsLease(s, db, base) {
          recoverLocked(s, db)
          val m = merged // builds any missing artifact inputs (re-entrant)
          rewriteBucketed(s, db, s"${base}_next", m, buckets, keys)
          createMarker(s, db, marker, horizon.fold("")(_.toString))
          rollForward(s, db, horizon)
        }
      }

    /** Owed-work replay: a compaction marker owes the empty delta, a
      * vacuum marker the suffix above the horizon it carries. An
      * unparsable vacuum marker cannot exist under the atomic
      * [[createMarker]]; if one is found anyway (torn by an older writer,
      * external truncation), its creation never completed — and creation
      * PRECEDES every destructive step — so nothing is owed: it is
      * dropped instead of failing every serving path forever.
      */
    private def recoverLocked(s: SparkSession, db: String): Unit =
      readMarker(s, db, marker).foreach { content =>
        meta.map(_ => content.toLongOption) match {
          case Some(None) => deleteMarker(s, db, marker)
          case owed => rollForward(s, db, owed.flatten)
        }
      }

    /** Steps 3–5; the marker is deleted only after the work is done. */
    private def rollForward(s: SparkSession, db: String,
        horizon: Option[Long]): Unit = {
      promoteNext(s, db, base)
      resetDelta(s, db, horizon)
      horizon.foreach(writeMeta(s, db, _))
      deleteMarker(s, db, marker)
    }

    /** The delta reset, in two regimes:
      *  - the catalog knows the delta (same process, or a persistent
      *    metastore): rewrite it from its kept rows;
      *  - otherwise, whenever the delta DIR exists (a fresh process over
      *    an in-memory catalog — the replaced-driver shape), at the
      *    FILESYSTEM level: a compaction empties the dir in place, so an
      *    append-union store can never serve delta rows twice even before
      *    any catalog is rebuilt; a vacuum re-reads the dir's rows for
      *    its suffix.
      * The fallback keys on the dir, not on `!databaseExists` (the
      * mixed-state note on [[promoteNext]]): a db created by an unrelated
      * query must not make the reset skip while the marker is deleted.
      */
    private def resetDelta(s: SparkSession, db: String,
        horizon: Option[Long]): Unit = {
      val dir = warehousePath(s, db, delta)
      val fs = fsOf(s, dir)
      if (s.catalog.databaseExists(db) &&
          s.catalog.tableExists(s"$db.$delta"))
        rewriteBucketed(s, db, delta, kept(s.table(s"$db.$delta"), horizon),
          buckets, keys)
      else if (fs.exists(dir)) horizon match {
        case None =>
          fs.listStatus(dir).foreach(st => fs.delete(st.getPath, true))
        case Some(_) =>
          rewriteBucketed(s, db, delta,
            kept(s.read.parquet(dir.toString), horizon), buckets, keys)
      }
    }

    /** The rows a reset keeps: none for a compaction; for a vacuum, the
      * rows above the horizon, materialized, since the rewrite drops the
      * delta table they are read from.
      */
    private def kept(df: DataFrame, horizon: Option[Long]): DataFrame =
      horizon match {
        case None => df.sparkSession.createDataFrame(
          df.sparkSession.sparkContext.emptyRDD[Row], df.schema)
        case Some(h) => Shared.ckpt(df.filter(col(verCol) > h))
      }

    private def writeMeta(s: SparkSession, db: String, horizon: Long): Unit =
      withArtifactLock(db, metaTable) {
        import s.implicits._
        rewriteBucketed(s, db, metaTable,
          Seq((0L, horizon)).toDF("k", "horizon"), 1, Seq("k"))
      }
  }

  private[graft] object Store {
    /** A store whose tables are `<stem>_base`, `<stem>_delta` and
      * `<stem>_pending`.
      */
    def of(stem: String, buckets: Int, keys: Seq[String]): Store =
      Store(s"${stem}_base", s"${stem}_delta", s"${stem}_pending", buckets,
        keys)
  }

  /** A staged family: its [[Store]], the builders of its base and delta
    * (write-once artifacts), and the merge that folds a delta into a base
    * — latest-wins for an override store, a union for an append store,
    * an anti-join for a tombstone store. Verbs take the tier dir; the
    * store lives in the tier's [[dbFor]] database.
    */
  private[graft] final case class Family(store: Store,
      base: (SparkSession, String) => DataFrame,
      delta: (SparkSession, String) => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame) {

    def recover(s: SparkSession, d: String): Unit = store.recover(s, dbFor(d))

    def horizon(s: SparkSession, d: String): Long = store.horizon(s, dbFor(d))

    def compact(s: SparkSession, d: String): Unit =
      store.compact(s, dbFor(d), merge(base(s, d), delta(s, d)))

    def vacuum(s: SparkSession, d: String, horizon: Long): Unit =
      store.vacuum(s, dbFor(d), horizon,
        merge(base(s, d), upTo(delta(s, d), Some(horizon))))

    /** Recover, then fold what is owed: the whole delta (compaction) or
      * its rows at or below `horizon` (vacuum) — nothing when there are
      * none, so a settled family costs one bounded count.
      */
    def settle(s: SparkSession, d: String,
        horizon: Option[Long] = None): Unit = {
      recover(s, d)
      if (upTo(delta(s, d), horizon).limit(1).count() > 0)
        horizon.fold(compact(s, d))(vacuum(s, d, _))
    }

    /** The family's view as of version `v` (the latest when `None`):
      * recover, refuse a snapshot below the vacuum floor — vacuumed
      * versions are unrecoverable, and serving a newer snapshot instead
      * would be silently wrong — then merge the base with the delta rows
      * up to `v`.
      */
    def asOf(s: SparkSession, d: String,
        v: Option[Long] = None): DataFrame = {
      recover(s, d)
      v.foreach { at =>
        val h = horizon(s, d)
        require(at >= h, s"as-of $at predates the ${store.base} vacuum " +
          s"horizon $h — vacuumed versions are unrecoverable")
      }
      merge(base(s, d), upTo(delta(s, d), v))
    }

    private def upTo(df: DataFrame, v: Option[Long]): DataFrame =
      v.fold(df)(at => df.filter(col(store.verCol) <= at))
  }

  /** Advisory FS lease for cross-driver exclusion of maintenance ops.
    * Acquire = create of `_LEASE_<name>` with overwrite=false (atomic
    * on HDFS; best-effort on RawLocalFileSystem and S3-class stores,
    * whose exists-check-then-create has a window — acceptable for the
    * single-maintenance-driver posture this guards; the marker protocol
    * keeps even an interleaved crash roll-forward-safe). A lease older
    * than `spark.graft.fs.leaseMs` (default 10 min) is presumed
    * orphaned by a dead driver and taken over via ATOMIC RENAME (see
    * the loop) — maintenance ops are idempotent roll-forward state
    * machines, so a takeover mid-crash-window re-runs recovery, never
    * corrupts. The lease carries an OWNER TOKEN, which closes the
    * release race an age-only lease has: if driver A's work outlives
    * `leaseMs` and driver B takes the lease over, A's release must NOT
    * delete B's lease (that would admit a third driver while B is
    * mid-swap). So the lease file carries the holder's nonce, and
    * release deletes only a lease the caller still owns. The stolen
    * holder's own critical section is still exposed — that is inherent
    * to any lease without a heartbeat — so `leaseMs` must be sized above
    * the worst-case swap wall (and [[Store]]'s marker protocol keeps
    * even an interleaved crash window roll-forward-safe).
    */
  private[graft] def withFsLease[T](s: SparkSession, db: String,
      name: String)(f: => T): T = {
    val lease = warehousePath(s, db, s"_LEASE_$name")
    val fs = fsOf(s, lease)
    val leaseMs = s.conf.getOption("spark.graft.fs.leaseMs")
      .map(_.toLong).getOrElse(10L * 60 * 1000)
    val nonce = java.util.UUID.randomUUID().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    fs.mkdirs(lease.getParent)
    def writeOwn(): Boolean =
      try {
        val out = fs.create(lease, false) // fails if the file exists
        try out.write(nonce) finally out.close()
        true
      } catch { case _: Throwable => false }
    def ownedByUs(): Boolean =
      try {
        val in = fs.open(lease)
        val got = try {
          // loop to EOF: a single read() may legally return a prefix on
          // HDFS/object-store streams, and a short read must not make
          // the holder fail to recognize (and release) its own lease
          val buf = new Array[Byte](nonce.length + 1)
          var off = 0
          var n = in.read(buf, off, buf.length - off)
          while (n > 0 && off + n < buf.length) {
            off += n; n = in.read(buf, off, buf.length - off)
          }
          java.util.Arrays.copyOf(buf, math.max(0, off + math.max(0, n)))
        } finally in.close()
        java.util.Arrays.equals(got, nonce)
      } catch { case _: Throwable => false }
    var acquired = false
    val giveUp = System.currentTimeMillis() + leaseMs + 60000
    while (!acquired && System.currentTimeMillis() < giveUp) {
      acquired = writeOwn()
      if (!acquired) {
        val age = try System.currentTimeMillis() -
          fs.getFileStatus(lease).getModificationTime
        catch { case _: Throwable => Long.MaxValue } // vanished → retry now
        if (age > leaseMs) {
          // Orphan takeover by ATOMIC RENAME, not delete (round-14
          // review): with a bare delete, two waiting drivers can both
          // judge the lease orphaned, one deletes + re-creates, and the
          // second's already-decided delete then removes the NEW
          // holder's lease — two drivers inside the critical section.
          // Rename can only succeed for one contender; the loser loops
          // and re-stats whatever lease now exists.
          val reap = warehousePath(s, db,
            s"_LEASE_${name}_reap_${java.util.UUID.randomUUID()}")
          try { if (fs.rename(lease, reap)) fs.delete(reap, false) }
          catch { case _: Throwable => () }
        } else Thread.sleep(500)
      }
    }
    if (!acquired) throw new IllegalStateException(
      s"could not acquire FS lease $lease within ${leaseMs + 60000} ms — " +
        "another maintenance driver appears live; refusing to interleave")
    try f finally {
      // release ONLY a lease we still own — if a takeover happened, the
      // file is the new holder's and must survive our exit
      try { if (ownedByUs()) fs.delete(lease, false) }
      catch { case _: Throwable => () }
    }
  }

  /** Finish a base swap: `_next` promoted over `base` at the catalog
    * level when the CATALOG KNOWS the `_next` table, at the FS level
    * whenever the `_next` DIR exists otherwise. The second branch keys
    * on the dir, not on `databaseExists` (round-14 review): a fresh
    * process can have created the db for unrelated tables while the
    * crashed swap's tables are still catalog-unknown — the owed promote
    * is then filesystem-level, and gating it on "db absent" skipped it
    * while recovery still deleted the marker. Idempotent; no-op without
    * a `_next` in either namespace. The FS rename's boolean is CHECKED:
    * Hadoop FileSystems report several failure modes by returning
    * false, and falling through after the base delete would let
    * recovery truncate the delta and drop the marker with the base
    * data gone (it lives in `_next`; throwing keeps the marker, so the
    * next recovery retries).
    */
  private def promoteNext(s: SparkSession, db: String, base: String): Unit =
    if (s.catalog.databaseExists(db) &&
        s.catalog.tableExists(s"$db.${base}_next")) {
      s.sql(s"DROP TABLE IF EXISTS $db.$base")
      s.sql(s"ALTER TABLE $db.${base}_next RENAME TO $db.$base")
    } else {
      val baseDir = warehousePath(s, db, base)
      val nextDir = warehousePath(s, db, s"${base}_next")
      val fs = fsOf(s, nextDir)
      if (fs.exists(nextDir)) {
        if (fs.exists(baseDir)) fs.delete(baseDir, true)
        if (!fs.rename(nextDir, baseDir))
          throw new java.io.IOException(
            s"base promote failed: rename($nextDir -> $baseDir) returned " +
              "false; marker left in place, next recovery retries")
        // a catalog that DOES know `base` (mixed state) now points at
        // swapped files — drop its cached file listing
        if (s.catalog.databaseExists(db) &&
            s.catalog.tableExists(s"$db.$base"))
          s.sql(s"REFRESH TABLE $db.$base")
      }
    }

  /** Create the redo marker with `content` (the intent record recovery
    * keys on; a vacuum stores the horizon in it). Written to a
    * temp name and RENAMED into place (round-14 review): a direct
    * create+write can die between the two and leave a 0-byte marker
    * whose unparsable content would poison every recovery that keys on
    * it; with the rename, the marker either exists with its full
    * content or not at all.
    */
  private def createMarker(s: SparkSession, db: String, marker: String,
      content: String): Unit = {
    val mk = warehousePath(s, db, marker)
    val tmp = warehousePath(s, db,
      s"${marker}_tmp_${java.util.UUID.randomUUID()}")
    val fs = fsOf(s, mk)
    fs.mkdirs(mk.getParent)
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (fs.exists(mk)) fs.delete(mk, false)
    if (!fs.rename(tmp, mk))
      throw new java.io.IOException(
        s"marker create failed: rename($tmp -> $mk) returned false")
  }

  /** Marker content if present (None = no pending work). */
  private def readMarker(s: SparkSession, db: String,
      marker: String): Option[String] = {
    val mk = warehousePath(s, db, marker)
    val fs = fsOf(s, mk)
    if (!fs.exists(mk)) None
    else {
      val in = fs.open(mk)
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64)
      var n = in.read(buf)
      while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      in.close()
      Some(new String(bytes.toByteArray, "UTF-8").trim)
    }
  }

  private def deleteMarker(s: SparkSession, db: String,
      marker: String): Unit = {
    val mk = warehousePath(s, db, marker)
    fsOf(s, mk).delete(mk, false)
  }

  /** Memoized [[rewriteBucketed]]: builds `db.name` from `df` at most once
    * per (session, source state); `df` is by-name and only evaluated when a
    * write actually happens.
    */
  private[graft] def writeOnceBucketed(s: SparkSession, db: String,
      name: String, srcPath: String, df: => DataFrame, buckets: Int,
      keys: Seq[String]): DataFrame = {
    val memoKey = s"${sessionId(s)}:$db.$name"
    val lock = artifactLocks.computeIfAbsent(s"$db.$name", _ => new Object)
    lock.synchronized {
      // mtime through the Hadoop FileSystem of the path's own scheme
      // (round-14 review): java.nio only resolves local paths, and the
      // tier dir is exactly what moves to HDFS/object storage in the
      // 100-TB posture — the same reasoning as the marker/lease paths.
      val srcHp = new org.apache.hadoop.fs.Path(srcPath)
      val srcM = srcHp.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getFileStatus(srcHp).getModificationTime
      val prev = artifactWritten.get(memoKey)
      val valid = artifactWritten.containsKey(memoKey) && prev == srcM &&
        s.catalog.tableExists(s"$db.$name")
      if (!valid) {
        rewriteBucketed(s, db, name, df, buckets, keys)
        artifactWritten.put(memoKey, srcM)
      }
    }
    s.table(s"$db.$name")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q43_bucketed_join" -> ((s, d) => {
      val db = dbFor(d)
      // write-once, not per-call rewrite (round-14 review): the layout
      // claim is "bucket once at ingest, join free forever after", so a
      // warm call must measure the join, not re-pay two table ingests —
      // and the memo's lock closes the cross-session drop race a bare
      // rewrite had
      val o = writeOnceBucketed(s, db, "orders_b", s"$d/orders.parquet",
        Tables.orders(s, d), 8, Seq("o_custkey"))
      // merge hint: at real scale neither side broadcasts; the hint makes
      // the planner prove bucket co-location here (SMJ with no exchange)
      // instead of falling back to a broadcast that only works because the
      // test data is small.
      val c = writeOnceBucketed(s, db, "customer_b",
        s"$d/customer.parquet", Tables.customer(s, d), 8,
        Seq("c_custkey")).hint("merge")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("rev"))
        .orderBy(col("c_mktsegment"))
    }),

    "q48_salted_join" -> ((s, d) => {
      // Fact side: deterministic salt derived from a uniform column
      // (event_id), NOT from the join key — salting the key itself would
      // put all of a hot key's rows in the same sub-key again.
      val fact = Tables.events(s, d)
        .select(col("user_id"), col("value"),
          pmod(col("event_id"), lit(SaltFanout)).cast("int").as("salt"))
      // Build side: replicate each row once per salt value. The
      // replication factor is SaltFanout x |dim| — the price of skew
      // immunity, paid on the SMALL side only.
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
        .withColumn("salt", explode(lit((0 until SaltFanout).toArray)))
      // shuffle_hash hint: at test scale AQE would broadcast the dim and
      // no shuffle would exist for salting to fix; the hint reproduces
      // the both-sides-shuffled regime the operator is for.
      val joined = fact.join(dim.hint("shuffle_hash"),
        fact("user_id") === dim("c_custkey") && fact("salt") === dim("salt"))
      joined.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy(col("c_mktsegment"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q43_bucketed_join" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         | ${sqlDsum("o_totalprice")} AS rev
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q48_salted_join" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_events,
         | ${sqlDsum("value")} AS sum_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
  )
}
