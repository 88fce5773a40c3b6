package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

import java.nio.charset.StandardCharsets

/**
 * Versioned transaction log: one immutable JSON snapshot descriptor per
 * committed table version, named `v%08d.metadata.json`.
 *
 * The commit protocol mirrors the reference's S3 Tables pointer swap
 * (kinesis-firehose-stream/scripts/update_metadata.py:62-148): a table's
 * state is an atomically-advanced metadata pointer over immutable data
 * files, with optimistic concurrency via a version token
 * (update_metadata.py:64-70 fetches `versionToken`, :135-141 swaps).
 * Here the "token" is the version number itself and the swap is an
 * atomic create-if-absent of the next snapshot file — two concurrent
 * committers race to create `v{N+1}`; exactly one wins, the loser gets
 * a [[CommitConflictException]] and must re-read and retry. This is the
 * same mutual-exclusion scheme the Delta Lake paper (VLDB'20) uses for
 * its `_delta_log`, chosen because it needs nothing beyond an atomic
 * put-if-absent, which local FS, HDFS, and S3 (conditional PUT) all have.
 */
final case class DataFile(
    path: String,                       // relative to the table's data dir
    partitionValues: Map[String, String],
    rowCount: Long,
    sizeBytes: Long,
    /** per-column min/max/nullCount from the parquet footer — drives
      * driver-side data skipping (see [[FileStats]]) */
    stats: Option[Map[String, ColStats]] = None,
    /** commit sequence: the version whose commit FIRST added this file
      * (stamped by [[TxLog.layout]]; 0 for pre-upgrade logs). Equality
      * deletes apply only to files with `seq` < the delete's seq —
      * the Iceberg v2 sequence-number rule that lets a re-inserted key
      * survive an older delete. */
    seq: Long = 0L)

/** A merge-on-read equality-delete file (the Iceberg v2 equality
  * delete): `path` (relative to the table's `deletes/` dir) holds a
  * parquet of `keyColumn` values whose rows are deleted from every data
  * file with seq < this delete's `seq` — no data file is rewritten at
  * delete time; readers anti-join. Point/small deletes at 100 TB cost
  * one tiny file instead of a gigabyte rewrite; compaction applies and
  * clears them. */
final case class EqualityDeleteFile(
    path: String,
    keyColumn: String,
    seq: Long,
    count: Long)

/** A deletion vector (the Delta DV / Iceberg positional-delete shape):
  * ONE sidecar per data file holding the sorted ROW POSITIONS deleted
  * from exactly that file — `dataFile` is the data file's snapshot
  * path, `path` the vector file under `deletes/` (sorted little-endian
  * longs; both absolute into the source in a shallow clone), `count`
  * its cardinality. Because a position references an
  * immutable file, no sequence-number rule is needed: a copy-on-write
  * rewrite replaces the file and the vector drops out of the snapshot
  * with it (commit filters vectors to surviving files). Point/small
  * deletes by contract — large predicates go copy-on-write. */
final case class DeletionVector(
    dataFile: String,
    path: String,
    count: Long)

/** Table-level per-column statistics computed by `TxTable.analyze`
  * (the ANALYZE TABLE ... COMPUTE STATISTICS surface), reported to
  * Spark through the V2 scan's `estimateStatistics` so the CBO sees
  * ndv/nullCount/avgLen/maxLen when reordering joins. Stale-tolerated
  * (the standard engine contract): `analyzedVersion` records when they
  * were computed. */
final case class ColumnStatsRec(
    ndv: Long,
    nullCount: Long,
    avgLen: Long,
    maxLen: Long)

final case class TableStats(
    analyzedVersion: Long,
    rowCount: Long,
    cols: Map[String, ColumnStatsRec])

/** Sidecar per-file Bloom index (see `TxTable.buildBloomIndex`):
  * serialized filters keyed by immutable data-file path. */
final case class BloomIndex(
    column: String,
    fpp: Double,
    builtAtVersion: Long,
    entries: Map[String, String])        // path -> base64 filter bytes

/** Sidecar metadata of a persisted ANN (IVF-PQ) index (see
  * `TxTable.buildVectorIndex`): the TRAINED quantizers plus the
  * CALIBRATED probe count — the "train once, commit the index as
  * table-side metadata, query many" artifact (r12 VERDICT task 1; the
  * reference's analog is the table-attached metadata committed via
  * kinesis-firehose-stream/scripts/update_metadata.py:135-141). The
  * encoded corpus lives next to it as parquet
  * (`_index/vector_<col>/<codesDir>`); `coveredFiles` is the exact
  * data-file-path set the codes cover — files NOT in it are scored
  * exactly at query time, so a stale index can never DROP rows.
  * Path-set coverage (not a version watermark) because RESTORE /
  * rollback_to_version re-adds files with their ORIGINAL commit seq:
  * a `seq > builtAtVersion` rule would classify a restored
  * pre-build-deleted file as covered and silently drop its rows
  * (ADVICE r13 medium). The set itself lives in a SEPARATE sidecar
  * (`coveredFilesFile`, one path per line, temp+rename published): it
  * grows with the TABLE (O(files) — ~50 MB at 10⁶ files), unlike the
  * model-sized quantizers, so inlining it would make every cold meta
  * read and every refresh rewrite pay table-scale JSON. `coveredFiles`
  * inline remains readable for r14-interim metas; `builtAtVersion`
  * remains for observability and as the coverage rule for LEGACY metas
  * (both fields absent).
  * `codesDir` names the codes GENERATION: a rebuild/compaction writes
  * a fresh directory and publishes this meta as the next meta slot, so
  * a concurrent search always reads a complete old-or-new index, never
  * a half-deleted one. */
final case class VectorIndexMeta(
    column: String,
    idColumn: String,
    dim: Int,
    centroids: Seq[Seq[Double]],
    codebooks: Seq[Seq[Seq[Double]]],
    nprobe: Int,
    rerankTo: Int,
    recallTarget: Double,
    builtAtVersion: Long,
    codesDir: String = "codes",
    coveredFiles: Option[Seq[String]] = None,
    coveredFilesFile: Option[String] = None,
    /** Incremental coverage sidecars (base + delta, the commit-index
      * chunk pattern): each refresh appends ONE delta file holding only
      * the newly covered paths — O(new files) bytes per refresh instead
      * of rewriting the whole set — and `rewrite_vector_index` compacts
      * base + deltas back into a single base. The covered set is the
      * union of `coveredFilesFile` and every delta, in order. */
    coveredDeltaFiles: Seq[String] = Nil,
    /** Publish generation for optimistic concurrency: every publish
      * stamps a fresh nonce, and a maintenance op must present the
      * nonce of the meta it READ — a racing refresh/rewrite/build from
      * another process fails the compare instead of silently
      * last-writer-winning the other's codes or coverage. `None` only
      * on legacy (pre-r15) metas. */
    nonce: Option[String] = None,
    /** Original build parameters not recoverable from the model itself
      * (nCells/m/kCodes ARE: centroids.size / codebooks.size /
      * codebooks.head.size) — replayed by maintenance rebuilds so an
      * index built with `iters = 0` (the deterministic, oracle-
      * replayable shape) or a specific calibration budget is never
      * silently reshaped to the API defaults. Legacy metas: None →
      * rebuild preserves the OBSERVED cell count and uses API defaults
      * for the rest. */
    buildIters: Option[Int] = None,
    buildSampleQueries: Option[Int] = None,
    buildK: Option[Int] = None,
    /** The nCells ARGUMENT as passed (-1 = auto): an auto-sized index
      * re-derives its cell count for the grown corpus on rebuild, while
      * an explicitly sized one keeps its requested size. */
    buildNCells: Option[Int] = None,
    /** Total rows in the codes sidecar (stamped by build/rewrite,
      * advanced by refresh): with the covered live files' row counts —
      * metadata the driver already holds — this yields the DEAD code
      * rows (codes of rows whose source file a compaction/overwrite
      * retired) without scanning the sidecar. The churn signal
      * `rewrite_vector_index`'s reap acts on (r15 VERDICT task 2).
      * None on legacy metas — the signal reports unknown rather than
      * paying a sidecar scan in a metadata call. */
    codeRows: Option[Long] = None,
    /** Last MEASURED held-out recall at the stored operating point,
      * with the snapshot version and k it was measured at (r15 VERDICT
      * task 5): a monitor reads the trend from `.indexes` without
      * paying the O(sample × corpus) brute-force pass per probe, and
      * `maintain_vector_index(check_recall)` skips re-measuring an
      * unchanged snapshot. A REBUILD mints a fresh meta without these
      * fields — stale measurements never survive the model they
      * measured. */
    measuredRecall: Option[Double] = None,
    measuredAtVersion: Option[Long] = None,
    measuredK: Option[Int] = None,
    measuredAtMs: Option[Long] = None,
    /** [[Snapshot.counters]] `cumAdded`/`cumRemoved` at the last
      * build/refresh/rewrite (r16 VERDICT task 3): the per-commit
      * auto-maintain gate bounds uncovered files by
      * `cumAdded - cumAddedAt` and dead entries by
      * `cumRemoved - cumRemovedAt` — O(1) from two maps the driver
      * already holds, no file-set walk. None on legacy metas (the gate
      * then treats the index dimension as due). */
    cumAddedAt: Option[Long] = None,
    cumRemovedAt: Option[Long] = None)

/** Pointer to an immutable manifest file under the log dir holding a
  * `Seq[DataFile]` group — the Iceberg manifest-list indirection that
  * keeps per-commit snapshot JSON O(changed files) instead of O(table
  * files). `fileCount` is carried so planning can size the file list
  * without opening every manifest.
  *
  * r17 (VERDICT task 1) adds MANIFEST SKIPPING metadata, the Iceberg
  * manifest-list partition-summary shape for the reference's
  * date-partitioned workload (kfs/scripts/update_metadata.py:114;
  * every README query filters on `date`, kfs/README.md:181,202):
  *  - `sizeBytes` / `rowCount` — byte/row sums of the group (−1 =
  *    unknown, pre-upgrade refs), so a cold pruned plan can report
  *    scan statistics without resolving anything;
  *  - `summaries` — per partition-column min/max/nullCount over the
  *    group's `partitionValues`, as [[ColStats]] (the same tagged,
  *    JSON-portable shape file skipping already compares against
  *    pushed predicates): a cold PRUNED plan opens only manifests
  *    whose range can match, instead of materializing all 10⁶
  *    entries. Summaries are stamped only for columns whose stored
  *    ordering provably matches the column type's (integral → numeric,
  *    DATE → validated ISO, STRING → lexicographic); anything else is
  *    omitted and the manifest is always read — conservative, never
  *    wrong. Absent on pre-upgrade refs (additive; no format gate). */
final case class ManifestRef(path: String, fileCount: Long,
    sizeBytes: Long = -1L, rowCount: Long = -1L,
    summaries: Option[Map[String, ColStats]] = None)

/** One field of a hidden-partitioning spec (see
  * [[graft.table.PartitionTransform]]): the PHYSICAL partition column
  * `name` derives from schema column `source` via `transform`
  * (identity | year | month | day | hour | bucket | truncate); `param`
  * is the bucket count / truncate width. Identity fields have
  * name == source and ARE schema columns; derived fields are hidden —
  * never in the schema, materialized only in directory names and
  * `DataFile.partitionValues`. */
final case class PartField(
    name: String,
    transform: String,
    source: String,
    param: Int = 0) {
  def isIdentity: Boolean = transform == "identity"
}

/** On-disk body of a manifest file. */
final case class Manifest(files: Seq[DataFile])

/** On-disk body of a manifest-LIST file — the second level of the
  * Iceberg-style two-level manifest layout (the shape the reference's
  * metadata pointer indirection implies,
  * `kinesis-firehose-stream/scripts/update_metadata.py:62-148`): once
  * a snapshot's ref list outgrows the inline bound, the refs move to
  * one immutable list file and the snapshot JSON carries only its
  * name — so header size stays O(changed files + 1) no matter how
  * many manifests the table accumulates, and a pure-inline append
  * (refs unchanged) REUSES the parent's list file, writing zero extra
  * bytes for the ref list. */
final case class ManifestList(refs: Seq[ManifestRef])

final case class Snapshot(
    version: Long,
    timestampMs: Long,
    operation: String,                  // CREATE | APPEND | MERGE | DELETE | OVERWRITE | COMPACT
    schemaJson: String,                 // Spark StructType json
    partitionColumns: Seq[String],
    files: Seq[DataFile],
    /** per-writer transaction watermarks (appId → highest applied
      * version), the Delta `txn` action: lets an at-least-once stream
      * fence replayed micro-batches for exactly-once table effects.
      * Default keeps pre-existing snapshot JSON readable. */
    appTxns: Map[String, Long] = Map.empty,
    /** names dropped by `dropColumn` whose data may survive in files
      * this snapshot still references — column mapping is NAME-based,
      * so re-adding such a name would resurrect old values; addColumn
      * refuses until a full rewrite (compact/overwrite) clears this. */
    droppedColumns: Seq[String] = Nil,
    /** manifest groups this snapshot references; on disk, `files` holds
      * only the inline (non-manifested) remainder. [[TxLog.read]]
      * returns the RESOLVED snapshot (manifests expanded into `files`),
      * so every consumer above TxLog sees the full list. When the ref
      * list itself spills to a manifest-list file (see
      * [[manifestList]]), the STORED header's `manifests` is empty and
      * [[TxLog.readStored]] repopulates it from the list file — so
      * every consumer of a parsed header still sees the full refs. */
    manifests: Seq[ManifestRef] = Nil,
    /** name of the manifest-list file holding this snapshot's refs when
      * they outgrew the inline bound ([[TxLog.InlineMaxRefs]]); None =
      * refs are inline in `manifests` (small tables, and every
      * pre-upgrade header). Kept populated after resolution so vacuum
      * can tell which list files are still referenced and so the next
      * commit can REUSE the file when its refs are unchanged. */
    manifestList: Option[String] = None,
    /** paths first introduced by THIS commit — the per-commit
      * added-files record that lets provenance walk the log in
      * O(changed) per version instead of O(table files). Computed by
      * [[TxLog.commit]]; callers need not set it. */
    added: Seq[String] = Nil,
    /** outstanding merge-on-read equality deletes (see
      * [[EqualityDeleteFile]]); carried commit-to-commit until a full
      * rewrite (overwrite/compact) applies and clears them. */
    equalityDeletes: Seq[EqualityDeleteFile] = Nil,
    /** outstanding deletion vectors, one per affected data file (see
      * [[DeletionVector]]); carried commit-to-commit FILTERED to files
      * the commit still references, so rewrites retire them for free. */
    deletionVectors: Seq[DeletionVector] = Nil,
    /** CHECK constraints (name → boolean SQL expression over the row),
      * the Delta `ALTER TABLE ... ADD CONSTRAINT ... CHECK` surface:
      * enforced on every ingest write path (append/merge/overwrite) —
      * a violating row fails the write, never corrupts the table.
      * Carried commit-to-commit like appTxns. */
    constraints: Map[String, String] = Map.empty,
    /** user table properties (TBLPROPERTIES) — opaque key/values
      * carried commit-to-commit; SET/UNSET are metadata-only commits. */
    properties: Map[String, String] = Map.empty,
    /** stored Change Data Feed files written BY THIS COMMIT (the Delta
      * `_change_data` shape): parquet under the table's `_change_data/`
      * dir holding the commit's row-level changes — table columns plus
      * `_change_type` (insert | update_preimage | update_postimage |
      * delete). Per-commit, never carried forward; Nil for commits made
      * without CDF enabled and for appends (whose changes are
      * synthesized from `added` at read time — see
      * `TxTable.changeFeed`). */
    changeFiles: Seq[String] = Nil,
    /** hidden-partitioning spec (empty = every partition column is
      * identity, the pre-transform log shape). When non-empty,
      * `partitionColumns == partitionSpec.map(_.name)`. */
    partitionSpec: Seq[PartField] = Nil,
    /** PARTITION SPEC EVOLUTION (the Iceberg spec-id shape, r18):
      * derived fields of RETIRED specs whose data files this table may
      * still reference — `day(ts)` after an evolution to `month(ts)`.
      * Data files are self-describing (each carries its own
      * partitionValues), so a metadata-only evolution never rewrites
      * anything: readers project source-column predicates onto the
      * CURRENT spec's fields AND these, and each file is pruned by
      * whichever fields its own values carry (missing field → kept,
      * conservative). Carried commit-to-commit; a full rewrite under
      * the current spec may clear it. Field NAMES are stable for the
      * table's life — evolution refuses to redefine a name with a
      * different (transform, source, param). */
    previousSpecFields: Seq[PartField] = Nil,
    /** minimum READER format version this header requires (the
      * Iceberg format-version / Delta minReaderVersion gate): 1 = the
      * original inline layout every reader understands; 2 = the refs
      * live in a manifest-list file ([[manifestList]]) — a pre-upgrade
      * reader that ignored the unknown field would silently see only
      * the inline remainder as the whole table, so headers that spill
      * their ref list declare 2 and readers REJECT any version above
      * [[TxLog.SupportedReaderVersion]] (hard error beats silent
      * partial reads on rolling upgrades — ADVICE r12); 3 = some
      * manifest ref points INTO a header (`hdr:v<N>` — see [[carried]]),
      * which a v2 reader would try to open as a file and fail
      * confusingly rather than loudly. Absent on pre-upgrade headers →
      * default 1. */
    minReader: Int = 1,
    /** HEADER-CARRIED manifest (r14 VERDICT task 7): the tier-0 spill
      * of a steady micro-batch append stream used to be a separate
      * manifest file — the dominant amortized term (1/33 create/commit)
      * above the reference's 2-round-trip floor. When the spill is
      * small enough ([[TxLog.CarryMaxFiles]] ≤ TierUnit entries, so the
      * carrier header stays within the same ~5 KB byte bound as a
      * full-inline header), its content rides HERE, inside the header
      * whose refs name it as `hdr:v<thisVersion>` — zero extra
      * round-trips, and strictly better crash atomicity (the old
      * orphan-manifest-before-header window disappears; header and
      * manifest are one atomic PUT). Carried manifests merge into
      * ordinary manifest FILES at the first tier merge, so at most
      * TierBase-1 headers per log ever serve as carriers; [[TxLog
      * .expire]] keeps a carrier alive while any surviving header
      * references it. */
    carried: Option[Seq[DataFile]] = None,
    /** free-form commit provenance (the Delta commitInfo shape, r16
      * VERDICT task 7): who/what produced this commit beyond the
      * `operation` verb — the auto-maintenance trigger stamps
      * `trigger=auto` plus the sweep's (action, detail) pairs here so
      * DESCRIBE HISTORY can audit continuous maintenance from SQL.
      * Additive: absent on every pre-upgrade header. */
    info: Map[String, String] = Map.empty,
    /** Commit-time MAINTENANCE COUNTERS (r16 VERDICT task 3), stamped
      * by [[TxLog.layout]] on every commit, maintained INCREMENTALLY on
      * the O(delta) append paths so the marginal-commit cost stays flat
      * at the 10⁶-file shape:
      *  - `totalFiles` / `totalBytes` — live file count / byte sum;
      *  - `totalRows` — live footer-row sum, PRESENT only when every
      *    file's rowCount is known (add_files imports record -1);
      *  - `smallCount` + `smallThreshold` — files under the table's
      *    CONFIGURED `graft.maintain.smallFileBytes` (default 64 MB) at
      *    commit time, with the threshold they were counted against (a
      *    sweep invoked with a different threshold falls back to the
      *    O(files) walk);
      *  - `cumAdded` / `cumRemoved` — MONOTONE cumulative file
      *    add/remove counts since the log upgrade: index metas stamp
      *    the values they were built at, so `cumAdded - cumAddedAt` is
      *    an O(1) upper bound on files an index does not cover and
      *    `cumRemoved - cumRemovedAt` on its dead entries — the
      *    per-commit auto-maintain gate reads ONLY these, and the
      *    O(files) signal evaluation runs only inside passes that act.
      * Empty on pre-upgrade headers (the gate then evaluates fully). */
    counters: Map[String, Long] = Map.empty,
    /** multi-table transaction membership: `Some(markerPath)` means
      * this commit's VISIBILITY is decided by the marker file at that
      * absolute path, not by the commit itself — marker COMMITTED →
      * content live, marker ABORTED (or force-aborted by a reader
      * after the resolve wait) → the commit is a no-op and this
      * version serves its parent's content. One atomic marker create
      * flips every participating table at once (see [[GraftTxn]]).
      * [[TxLog.readRaw]] resolves the flag before serving the header,
      * so nothing above TxLog ever observes an undecided commit. */
    pendingTxn: Option[String] = None)

class CommitConflictException(msg: String) extends RuntimeException(msg)

object TxLog {
  implicit private val fmts: Formats = DefaultFormats

  // ---- in-flight write protection (r17) ------------------------------
  // Write tokens and file/dir NAMES (UUID-unique) of THIS process's
  // writes between their first file and their commit: the async
  // maintenance lane overlaps live writers BY DESIGN, so a same-process
  // vacuum must never reclaim them however short the orphan grace —
  // without this, a background sweep with orphanGraceMs=0 deletes a
  // racing append's files mid-write. [[commit]] releases a name the moment its path is
  // referenced by a published header; entries also age out (a write
  // longer than the window, or one that crashed before committing,
  // falls back to the documented grace-must-exceed-longest-write
  // contract — which also remains the ONLY protection cross-process).
  private[table] val inFlightNames =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[table] val InFlightProtectMs: Long = 30L * 60 * 1000

  /** Scope for multi-table transactions: while a GraftTxn stages its
    * writes, their names register under the txn id — an explicit
    * ABORT before publish then releases them all at once, restoring
    * the documented contract that aborted-txn staged files are
    * immediately vacuum-reapable orphans. */
  private[table] val inFlightScope = new ThreadLocal[String]
  private val inFlightScopes =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[String]]()

  private[table] def registerInFlight(name: String): Unit = {
    val now = System.currentTimeMillis()
    if (inFlightNames.size > 4096)
      inFlightNames.entrySet().removeIf(e =>
        now - e.getValue > InFlightProtectMs)
    inFlightNames.put(name, now)
    val sc = inFlightScope.get()
    if (sc != null)
      inFlightScopes.computeIfAbsent(sc,
        _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
        .add(name)
  }

  private[table] def releaseInFlightScope(scope: String): Unit =
    Option(inFlightScopes.remove(scope))
      .foreach(_.forEach(n => inFlightNames.remove(n)))

  /** A fresh write token, registered in-flight before the write it
    * names creates any file: [[TableWriter]] puts it in every file name,
    * so one registration protects all of that write's files. */
  private[table] def newWriteToken(): String = {
    val t = java.util.UUID.randomUUID().toString
    registerInFlight(t)
    t
  }

  private val WriteTokenRe =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  private def registered(name: String): Boolean = {
    val t = inFlightNames.get(name)
    t != null && System.currentTimeMillis() - t < InFlightProtectMs
  }

  /** Whether `name` (a file or directory name) belongs to an in-flight
    * write of this process: registered itself, or carrying a registered
    * write token. */
  private[table] def inFlightProtected(name: String): Boolean =
    registered(name) || WriteTokenRe.findFirstIn(name).exists(registered)

  private[table] def releaseInFlight(rel: String): Unit = {
    val i = rel.lastIndexOf('/')
    val name = if (i < 0) rel else rel.substring(i + 1)
    inFlightNames.remove(name)
    WriteTokenRe.findFirstIn(name).foreach(inFlightNames.remove)
  }

  /** Highest header format this build can read: 1 = inline layout,
    * 2 = two-level manifest-list layout, 3 = header-carried manifests
    * (`hdr:v<N>` refs — see [[Snapshot.carried]]). Writers stamp the
    * SMALLEST version a header actually needs (a pure-inline header
    * stays 1, so small tables remain readable by any build); readers
    * reject anything above this. */
  val SupportedReaderVersion = 3

  private def snapshotName(v: Long): String = f"v$v%08d.metadata.json"
  private val SnapshotRe = raw"v(\d{8})\.metadata\.json".r

  /** Does version `v`'s HEADER file exist? One status call, no parse —
    * the discriminator vacuum's retention walk needs between "this
    * snapshot was expired" (contribute nothing, safe) and "this
    * snapshot exists but resolving its manifests failed" (abort: its
    * references are unknown, so deleting anything could orphan live
    * data — ADVICE r15 medium). */
  def headerExists(logDir: Path, v: Long, conf: Configuration): Boolean =
    try fs(logDir, conf).exists(new Path(logDir, snapshotName(v)))
    catch { case _: java.io.FileNotFoundException => false }

  def fs(logDir: Path, conf: Configuration): FileSystem = logDir.getFileSystem(conf)

  private val HintName = "_head.hint"

  /** Highest committed version, or None for an empty/nonexistent log.
    *
    * Discovery is memory-first, hint-second: a head this process
    * committed or previously discovered seeds a forward probe (the
    * steady single-writer state costs TWO status calls — one probe for
    * the successor, and when none exists one VERIFICATION that the
    * cached head's snapshot file is still there: an EXTERNAL
    * drop+recreate of the table (another process's purge is JVM-local)
    * would otherwise leave this process serving — and worse, COMMITTING
    * past — a stale head (ADVICE r12); a verification miss purges the
    * log's caches and falls back to hint/listing. The verification's
    * FileStatus is handed to the immediately following header read so
    * its cache validation costs no extra round-trip). Cold processes
    * fall back to the hint file (the Iceberg `version-hint.text` /
    * Delta `_last_checkpoint` shape): commits best-effort overwrite
    * `_head.hint` every [[HintEvery]] versions (per-commit hint writes
    * were a full round-trip each for a purely cold-start optimization),
    * and a reader verifies the hinted snapshot exists then PROBES
    * FORWARD to the true head — O(1 + hint lag ≤ HintEvery) instead of
    * an O(commits) directory listing. The hint is never trusted
    * blindly: a torn/partial hint read parses to a smaller-or-invalid
    * value, and any underestimate is corrected by the forward probe; a
    * missing or unverifiable hint falls back to the full listing. */
  def currentVersion(logDir: Path, conf: Configuration): Option[Long] = {
    val f = fs(logDir, conf)
    val cached = headCache.get(logDir.toString)
    if (cached != null) {
      val v = probeForward(f, logDir, cached.longValue())
      if (v != cached.longValue()) {
        // the successful successor probes verified the new head exists
        headCacheAdvance(logDir, v)
        return Some(v)
      }
      // no successor: verify the cached head itself still exists. The
      // writer's OWN trusted head needs no disk verification — the CAS
      // that published it proved existence, reads serve the in-memory
      // copy either way, and the next commit's parent pre-check catches
      // external deletion where it matters; pure readers (no trusted
      // entry) keep the verification (ADVICE r12).
      val th = headTrusted.get(logDir.toString)
      if (th != null && th.version == v) return Some(v)
      // …and hand the verification status to the header read that
      // near-always follows, so its cache validation is free
      try {
        val st = f.getFileStatus(new Path(logDir, snapshotName(v)))
        headStatusHandoff.put(logDir.toString, (v, st, System.nanoTime()))
        return Some(v)
      } catch {
        case _: java.io.FileNotFoundException =>
          // stale cache (external drop/recreate) — drop every cache
          // for this log and rediscover below
          purgeRawCache(logDir)
      }
    }
    val head = readHint(f, logDir) match {
      case Some(h) if f.exists(new Path(logDir, snapshotName(h))) =>
        Some(probeForward(f, logDir, h))
      case _ => listedVersion(f, logDir)
    }
    head.foreach(headCacheAdvance(logDir, _))
    head
  }

  /** One-shot (version, FileStatus, nanoTime) handoff from
    * [[currentVersion]]'s head verification to [[readStored]]'s cache
    * validation: the two calls are microseconds apart on the read path,
    * so the same status can serve both — without this every governed
    * statement paid the verification AND a second status for the header
    * it then read. Consumed UNCONDITIONALLY at the top of readStored
    * and expired after [[HandoffMaxAgeNanos]] — an entry left behind by
    * a rawCache miss (or one whose reader was descheduled) must never
    * validate a LATER cache entry against a status captured long before,
    * which would widen the external drop/recreate staleness window well
    * beyond the microseconds the design claims (ADVICE r13). */
  private val headStatusHandoff =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Long, org.apache.hadoop.fs.FileStatus, Long)]()

  /** Oldest handoff a cache validation may trust: generous against a
    * descheduled thread, tiny against real external-mutation windows. */
  private val HandoffMaxAgeNanos = 20L * 1000 * 1000   // 20 ms

  /** The head snapshot this process itself committed last, per log dir:
    * the commit CAS that published it is the proof it existed, its
    * content is known byte-exact, and headers are immutable — so the
    * writer's own next read of it costs ZERO round-trips (the
    * "stateless re-read" the round-12 commit-budget audit flagged).
    * Staleness is arbitrated where it is always caught: the next
    * commit's parent pre-check + version-slot CAS (a stale trusted head
    * loses the CAS or fails the parent check, both of which drop the
    * entry and rediscover). Dropped by the purge paths like every
    * other log cache. `served` is the exact resolved Snapshot instance
    * [[read]] returns for it — reference identity doubles as the
    * integrity token for the O(delta) append path (see
    * [[layoutAppendDelta]]). */
  private final case class TrustedHead(version: Long, stored: Snapshot,
      served: Snapshot)
  // Size-weighted bounded cache with LOCK-FREE reads: each TrustedHead
  // holds two O(table-files) snapshots, so an unbounded per-logDir map
  // in a long-lived process committing to many tables would accumulate
  // every table's resolved file vector forever — but the head read is
  // the hottest path in the log, so the bound must not put a global
  // mutex on it (see [[BoundedWeightCache]]: ConcurrentHashMap gets, a
  // running weight total, eviction only when the budget trips). A miss
  // only costs the probing discovery path.
  private val headTrusted = new BoundedWeightCache[TrustedHead](
    1000000L, th => th.served.files.size.toLong)

  /** Writer-path head discovery: the process's own last-committed
    * version when available (zero round-trips — the CAS arbitrates
    * staleness), else the probing discovery. Internal write paths use
    * this; plain reads keep [[currentVersion]]'s freshness probe. */
  def currentVersionTrusted(logDir: Path, conf: Configuration): Option[Long] = {
    val th = headTrusted.get(logDir.toString)
    if (th != null) Some(th.version) else currentVersion(logDir, conf)
  }

  /** Forward head search from a VERIFIED version: gallop (+1, +2, +4,
    * …) to bracket the first missing slot, then binary-search the
    * bracket — O(log lag) exists-probes instead of the O(lag) linear
    * walk, which is what lets the hint cadence drop to 1/64 commits
    * (r13 VERDICT task 6) without unbounding cold-discovery cost.
    * Version slots are DENSE above any existing version (commits are
    * sequential), so the exists predicate is monotone in the bracket;
    * a commit racing the search can only make the result one commit
    * stale, which every discovery caller already tolerates. */
  private def probeForward(f: FileSystem, logDir: Path, from: Long): Long = {
    if (!f.exists(new Path(logDir, snapshotName(from + 1)))) return from
    var lo = from + 1                        // verified to exist
    var step = 1L
    while (f.exists(new Path(logDir, snapshotName(lo + step)))) {
      lo += step
      step *= 2
    }
    var hi = lo + step                       // verified missing
    while (hi - lo > 1) {
      val mid = lo + (hi - lo) / 2
      if (f.exists(new Path(logDir, snapshotName(mid)))) lo = mid else hi = mid
    }
    lo
  }

  /** Monotonic head-cache update: concurrent probes/commits may land
    * out of order — never let a slower thread regress the value (a
    * too-small entry only costs probes, but monotonicity is free). */
  private def headCacheAdvance(logDir: Path, v: Long): Unit =
    headCache.merge(logDir.toString, java.lang.Long.valueOf(v),
      (a, b) => if (a.longValue() >= b.longValue()) a else b)

  /** Last known head per log dir — seeded by commit wins and full
    * discoveries, advanced by forward probes, dropped whenever the
    * log's other caches are purged (drop/recreate). Entries are two
    * small boxed values per TABLE, so no eviction policy is needed. */
  private val headCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def listedVersion(f: FileSystem, logDir: Path): Option[Long] = {
    if (!f.exists(logDir)) return None
    val vs = f.listStatus(logDir).iterator.flatMap { st =>
      st.getPath.getName match {
        case SnapshotRe(v) => Some(v.toLong)
        case _             => None
      }
    }.toSeq
    if (vs.isEmpty) None else Some(vs.max)
  }

  private def readHint(f: FileSystem, logDir: Path): Option[Long] =
    try {
      val p = new Path(logDir, HintName)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val s =
          try new String(org.apache.commons.io.IOUtils.toByteArray(in),
            StandardCharsets.UTF_8).trim
          finally in.close()
        if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong) else None
      }
    } catch { case _: Exception => None }

  /** Best-effort: losing this write (crash, race) only degrades the
    * next discovery to probe-forward/listing — never correctness. */
  private def writeHint(f: FileSystem, logDir: Path, version: Long): Unit =
    try {
      val out = f.create(new Path(logDir, HintName), /*overwrite=*/ true)
      try out.write(version.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: Exception => () }

  /** Expire snapshot HEADERS below `keepFrom` (the Iceberg
    * expire_snapshots / Delta log-cleanup surface): deletes
    * `v*.metadata.json` for versions < keepFrom except `protect`ed
    * ones (tags). Data files are untouched (vacuum owns those);
    * manifests referenced only by expired snapshots become vacuumable.
    * Time travel below the horizon fails with a missing-snapshot
    * error afterwards — the standard retention contract. Returns the
    * number of headers removed. */
  def expire(logDir: Path, keepFrom: Long, protect: Set[Long],
      conf: Configuration): Int = {
    val f = fs(logDir, conf)
    // A retained header whose txn ABORTED serves its PARENT's content
    // at read time (resolution walks to the first non-aborted
    // ancestor) — those ancestors must outlive it even below the
    // horizon, or the retained version becomes unreadable. Only a run
    // of abort-shaped headers STARTING AT a retention boundary can
    // have ancestors below it (an aborted header higher up resolves to
    // a parent that is itself retained), so the walk costs O(run
    // length) header reads, not O(head). Undecided markers count as
    // abort-shaped: keeping the parent is safe either way.
    val txnParents = scala.collection.mutable.Set.empty[Long]
    def protectAncestorsOf(start: Long): Unit = {
      try {
        var pv = start
        var s = readStored(logDir, pv, conf)
        while (pv > 0 && s.pendingTxn.exists(m =>
            txnState(m, conf).forall(_ != TxnCommitted))) {
          pv -= 1
          txnParents += pv
          s = readStored(logDir, pv, conf)
        }
      } catch { case _: java.io.FileNotFoundException => () }
    }
    protectAncestorsOf(keepFrom)
    protect.filter(_ < keepFrom).foreach(protectAncestorsOf)
    // carrier protection (format v3): a SURVIVING header's refs may
    // point INTO an older header (`hdr:vN` — Snapshot.carried);
    // deleting that carrier would drop the retained snapshot's file
    // entries. Collect hdr refs from every header that will outlive
    // this expiry — the retained range, the protected tags, and the
    // txn parents kept above — and keep those versions too. Carriers
    // merge into manifest FILES within O(TierBase) spills, so the kept
    // set is at most a few versions and ages out on a later expire.
    // A kept carrier stays time-travel-readable slightly below the
    // horizon — harmless, and the alternative (rewriting the head's
    // refs) would turn retention into a commit.
    val carriers = scala.collection.mutable.Set.empty[Long]
    def collectCarriers(v: Long): Unit =
      try readStored(logDir, v, conf).manifests.foreach { r =>
        r.path match {
          case HdrRefRe(cv) if cv.toLong < keepFrom => carriers += cv.toLong
          case _ => ()
        }
      } catch { case _: java.io.FileNotFoundException => () }
    // BOUNDED walk (r15 VERDICT task 7 — this used to read every
    // retained header): hdr-ref lifetimes are CONTIGUOUS in version
    // space. A header's refs derive from its parent's (spills append
    // new `hdr:v<self>` refs; tier merges REMOVE hdr refs permanently —
    // nothing ever re-adds a removed carrier ref, and branch logs are
    // separate dirs whose bootstraps materialize content), so if header
    // M ≥ keepFrom references carrier hdr:vN with N < keepFrom, EVERY
    // header in [N, M] references it too — including the FIRST header
    // surviving at/above keepFrom. Reading that one header (walking
    // gaps an earlier deeper expiry left) therefore collects the full
    // sub-horizon carrier set; the head is read too as a second,
    // usually-cached witness (by contiguity it adds nothing — pure
    // belt-and-braces against a future layout change breaking the
    // invariant silently).
    val headV = currentVersion(logDir, conf).getOrElse(-1L)
    var probe = keepFrom
    while (probe <= headV && !headerExists(logDir, probe, conf)) probe += 1
    if (probe <= headV) collectCarriers(probe)
    if (headV >= keepFrom) collectCarriers(headV)
    (protect ++ txnParents).filter(_ < keepFrom).foreach(collectCarriers)
    var removed = 0
    (0L until keepFrom).foreach { v =>
      if (!protect.contains(v) && !txnParents.contains(v) &&
          !carriers.contains(v)) {
        val p = new Path(logDir, snapshotName(v))
        if (f.exists(p) && f.delete(p, false)) removed += 1
        // expired headers must fail reads — drop the parsed copy too
        rawCache.remove((logDir.toString, v))
      }
    }
    // index chunks covering ONLY expired versions age out with their
    // headers (a partially-expired chunk stays: its live tail is still
    // the fast path, and serving provenance slightly below the horizon
    // from an immutable chunk is harmless)
    try {
      if (f.exists(logDir)) f.listStatus(logDir).foreach { st =>
        st.getPath.getName match {
          case ChunkRe(_, to) if to.toLong < keepFrom =>
            if (f.delete(st.getPath, false))
              chunkCache.remove((logDir.toString,
                to.toLong - IndexChunkSize + 1))
          case _ => ()
        }
      }
    } catch { case _: Exception => () }
    removed
  }

  /** Newest version committed at or before `cutoffMs` — binary search
    * over the monotone commit timestamps, O(log commits) probes (the
    * `TIMESTAMP AS OF` resolver). Probes consult the COMMIT INDEX
    * chunk first (a cached map lookup; headers parse at ~ms each, and
    * at the 10⁵-commit shape the ~17 raw probes per resolution were
    * the dominant cost) and fall back to the raw header for versions
    * past the last completed chunk. Throws when even version 0 is
    * newer than the cutoff. */
  def versionAtOrBefore(logDir: Path, head: Long, cutoffMs: Long,
      conf: Configuration): Long = {
    // expired (deleted) headers read as "older than any retained
    // commit": the search walks past them, and only errors if the
    // RESULT itself is expired
    def tsOpt(v: Long): Option[Long] = {
      val indexed = chunkFor(logDir, v, conf).flatMap(_.get(v)).map(_.ts)
      if (indexed.isDefined) indexed
      else try Some(readRaw(logDir, v, conf).timestampMs)
      catch { case _: java.io.FileNotFoundException => None }
    }
    tsOpt(0L).foreach { t0 =>
      if (t0 > cutoffMs) throw new IllegalArgumentException(
        s"no version committed at or before $cutoffMs ms")
    }
    var lo = 0L
    var hi = head
    while (lo < hi) {
      val mid = lo + (hi - lo + 1) / 2
      if (tsOpt(mid).forall(_ <= cutoffMs)) lo = mid else hi = mid - 1
    }
    // the RESULT must be a retained header (a chunk entry can outlive
    // an expired header — serving it would just fail at snapshot read)
    val resolvedRetained =
      try { readRaw(logDir, lo, conf); true }
      catch { case _: java.io.FileNotFoundException => false }
    if (!resolvedRetained) throw new IllegalArgumentException(
      s"version $lo is expired — the timestamp precedes the retained log")
    lo
  }

  // ---- multi-table transaction markers ------------------------------

  val TxnCommitted = "COMMITTED"
  val TxnAborted = "ABORTED"

  /** Terminal marker states by absolute marker path. A marker file is
    * created exactly once (put-if-absent) and never rewritten, so a
    * cached state can never go stale. */
  private val txnStateCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, String](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, String]): Boolean =
          size() > 65536
      })

  /** Read a transaction marker's state: `Some(COMMITTED | ABORTED)`,
    * or `None` while the marker is absent (transaction still in
    * flight or already forgotten). Retries the local protocol's brief
    * empty-reservation window, same as [[readRaw]]. */
  def txnState(marker: String, conf: Configuration): Option[String] = {
    val cached = txnStateCache.get(marker)
    if (cached != null) return Some(cached)
    val p = new Path(marker)
    val f = p.getFileSystem(conf)
    try {
      var attempt = 0
      while (attempt < 50) {
        val in = f.open(p)
        val bytes =
          try org.apache.commons.io.IOUtils.toByteArray(in)
          finally in.close()
        if (bytes.nonEmpty) {
          val st = new String(bytes, StandardCharsets.UTF_8).trim
          txnStateCache.put(marker, st)
          return Some(st)
        }
        attempt += 1
        Thread.sleep(10)
      }
      throw new java.io.IOException(
        s"txn marker $p still empty after $attempt reads")
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Decide a transaction's outcome through the commit protocol's
    * put-if-absent: exactly one decider wins the marker slot (the
    * coordinator writing COMMITTED, or a reader/writer force-writing
    * ABORTED after the resolve wait); everyone else observes the
    * winning state. Returns the FINAL state, which may differ from
    * `decision`. */
  def decideTxn(marker: String, decision: String, conf: Configuration): String = {
    val p = new Path(marker)
    val f = p.getFileSystem(conf)
    f.mkdirs(p.getParent)
    try {
      protocolFor(f, p).putIfAbsent(f, p,
        decision.getBytes(StandardCharsets.UTF_8), -1L, None)
      txnStateCache.put(marker, decision)
      decision
    } catch {
      case _: CommitConflictException =>
        txnState(marker, conf).getOrElse(throw new IllegalStateException(
          s"txn marker $p exists but could not be read"))
    }
  }

  /** How long a reader lets an IN-FLIGHT multi-table transaction stay
    * undecided (measured from the pending header's commit timestamp)
    * before force-aborting it. The coordinator's publish→decide window
    * is metadata-only (a few header CAS writes), so a marker still
    * absent this long after publish means a crashed coordinator — the
    * table must not stay wedged behind it. The default (10 s) covers a
    * coordinator GC pause or slow object-store CAS; deployments with
    * slower stores or many participant tables should RAISE it
    * (`graft.txn.resolveWaitMs`) — the cost of a larger value is only
    * how long a crashed coordinator can block readers, never added
    * latency on the healthy path (the marker resolves the poll loop
    * as soon as it appears). */
  private def txnResolveWaitMs(conf: Configuration): Long =
    conf.getLong("graft.txn.resolveWaitMs", 10000L)

  /** Resolve a pending-txn header to its TERMINAL effect. Every header
    * this module serves passes through here, so no consumer — readers,
    * writers rebasing on the head, CDF walks, the index-chunk writer,
    * vacuum — ever builds on an undecided commit:
    *  - marker COMMITTED → content is live (flag dropped);
    *  - marker ABORTED   → the commit is a no-op: the PARENT's content
    *    under this version number, nothing added, no change data;
    *  - marker absent    → in flight: poll up to the resolve wait,
    *    then force-abort through the same put-if-absent CAS the
    *    coordinator's COMMITTED write uses — exactly one side wins, so
    *    a crashed prepare can never block the table and a reader can
    *    never observe data whose transaction later fails. */
  private def resolvePending(logDir: Path, snap: Snapshot,
      conf: Configuration): Snapshot = snap.pendingTxn match {
    case None => snap
    case Some(marker) =>
      val state = txnState(marker, conf).getOrElse {
        // the window runs from the header's PUBLISH time, so a
        // long-pending txn aborts with minimal reader blocking and a
        // just-published one gets the full window however late in it
        // the reader lands — BUT the publish timestamp comes from the
        // COORDINATOR's clock, so the reader's own clock bounds it on
        // BOTH sides: a floor of min(3 s, window) (a coordinator whose
        // clock runs behind, or whose multi-table publish is slow,
        // cannot be instantly force-aborted by a skewed reader) and a
        // ceiling of one full window (a coordinator whose clock runs
        // AHEAD cannot wedge readers for the skew — the exact hang
        // this mechanism exists to prevent)
        val wait = txnResolveWaitMs(conf)
        val now = System.currentTimeMillis()
        val deadline = math.min(now + wait, math.max(
          now + math.min(3000L, wait),
          snap.timestampMs + wait))
        var st: Option[String] = None
        while (st.isEmpty && System.currentTimeMillis() < deadline) {
          Thread.sleep(25)
          st = txnState(marker, conf)
        }
        st.getOrElse(decideTxn(marker, TxnAborted, conf))
      }
      if (state == TxnCommitted) snap.copy(pendingTxn = None)
      else {
        require(snap.version > 0,
          s"pending txn on version 0 of $logDir — transactions require an existing table")
        readRaw(logDir, snap.version - 1, conf).copy(
          version = snap.version, timestampMs = snap.timestampMs,
          operation = "ABORTED_TXN", added = Nil, changeFiles = Nil,
          pendingTxn = None)
      }
  }

  /** Parsed raw headers, LRU-bounded and validated by (mtime, length):
    * a committed header never changes in place, but DROP + CREATE at
    * the same path legitimately REUSES version file names — the status
    * check catches that (fresh publish → fresh mtime/length), so a hit
    * costs one getFileStatus instead of an open + read + JSON parse.
    * Raw headers are O(changed files) each (manifest-list layout), so
    * the cache is small; it turns repeat log walks (provenance,
    * change-feed classification, streaming catch-up, timestamp binary
    * searches) from a parse per version into a status probe. */
  private val rawCacheCap = 8192
  private val rawCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long), (Long, Long, Snapshot)](
          256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long), (Long, Long, Snapshot)]): Boolean =
          size() > rawCacheCap
      })

  /** Parse a snapshot AS STORED: inline files + unresolved manifest
    * refs, with any pending-txn flag RESOLVED to its terminal effect
    * (see [[resolvePending]]). Commit and provenance use this — it is
    * O(changed files). */
  def readRaw(logDir: Path, version: Long, conf: Configuration): Snapshot =
    resolvePending(logDir, readStored(logDir, version, conf), conf)

  /** The header EXACTLY as stored — pending-txn flag intact,
    * unresolved. Only maintenance that must see marker references
    * (marker GC) reads this; everything else goes through [[readRaw]]
    * so it never observes an undecided commit. */
  private[table] def readStored(logDir: Path, version: Long,
      conf: Configuration): Snapshot = {
    val key = (logDir.toString, version)
    // the writer's own last commit: content known byte-exact, file
    // existence proven by the CAS — zero round-trips (see TrustedHead)
    val trusted = headTrusted.get(logDir.toString)
    if (trusted != null && trusted.version == version) return trusted.stored
    val p = new Path(logDir, snapshotName(version))
    val f = fs(logDir, conf)
    // consume the handoff UNCONDITIONALLY (even on a rawCache miss):
    // a lingering entry must not survive to validate a later, unrelated
    // cache entry (ADVICE r13)
    val handoff = headStatusHandoff.remove(logDir.toString)
    val cached = rawCache.get(key)
    if (cached != null) {
      // a status captured microseconds ago by currentVersion's head
      // verification validates the cache without a second round-trip —
      // but only a FRESH one for THIS version
      val st0 =
        if (handoff != null && handoff._1 == version &&
            System.nanoTime() - handoff._3 <= HandoffMaxAgeNanos) handoff._2
        else
          try f.getFileStatus(p)
          catch { case _: java.io.FileNotFoundException => null }
      if (st0 != null && st0.getModificationTime == cached._1 &&
          st0.getLen == cached._2)
        return cached._3
      rawCache.remove(key)   // recreated or expired — fall through
    }
    rawHeaderReads.incrementAndGet()
    // The local-FS commit publishes content with an atomic rename onto a
    // just-reserved empty file, so a racing reader can glimpse the empty
    // reservation for a moment — retry briefly before giving up.
    var attempt = 0
    while (true) {
      val in = f.open(p)
      val bytes =
        try org.apache.commons.io.IOUtils.toByteArray(in)
        finally in.close()
      if (bytes.nonEmpty) {
        val stored = JsonMethods
          .parse(new String(bytes, StandardCharsets.UTF_8))
          .extract[Snapshot]
        // format gate: a header written by a future format must FAIL
        // loudly, never parse to a silent partial view (the exact
        // failure mode the manifest-list spill would have had on a
        // pre-upgrade reader). Tests may LOWER the supported version
        // via `graft.test.supportedReaderVersion` to exercise the gate
        // against REAL v2 headers (a simulated pre-upgrade reader).
        // LOWERING is the only honored direction: Spark copies session
        // SQL confs into the Hadoop conf, and the governed surface
        // leaves SET open, so an attacker-settable value must never be
        // able to RAISE the gate above what this build can actually
        // parse — that would turn a future-format header into a silent
        // partial view, the exact failure the gate exists to prevent.
        val supported = math.min(
          conf.getInt("graft.test.supportedReaderVersion",
            SupportedReaderVersion),
          SupportedReaderVersion)
        if (stored.minReader > supported)
          throw new java.io.IOException(
            s"snapshot $p requires reader format version " +
              s"${stored.minReader}; this build supports <= " +
              s"$supported — upgrade before reading")
        // two-level layout: refs live in the manifest-list file — pull
        // them into `manifests` here (one CACHED read; lists are
        // immutable) so every consumer of a parsed header sees the full
        // ref list regardless of where it was stored
        val snap = stored.manifestList match {
          case Some(ml) if stored.manifests.isEmpty =>
            stored.copy(manifests = loadManifestList(logDir, ml, conf))
          case _ => stored
        }
        try {
          val st = f.getFileStatus(p)
          if (st.getLen == bytes.length)
            rawCache.put(key, (st.getModificationTime, st.getLen, snap))
        } catch { case _: java.io.FileNotFoundException => () }
        return snap
      }
      attempt += 1
      if (attempt >= 50) {
        throw new java.io.IOException(
          s"snapshot $p still empty after $attempt reads — aborted commit?")
      }
      Thread.sleep(10)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Read the RESOLVED snapshot: manifest groups expanded into `files`
    * (manifest order, then inline remainder). Everything above TxLog
    * consumes this full view. */
  def read(logDir: Path, version: Long, conf: Configuration): Snapshot = {
    // serve the writer's own head as ONE stable instance: zero I/O, and
    // the instance identity is the O(delta) append path's proof that a
    // caller-supplied base is the unmutated snapshot it served
    val trusted = headTrusted.get(logDir.toString)
    if (trusted != null && trusted.version == version) return trusted.served
    val raw = readRaw(logDir, version, conf)
    if (raw.manifests.isEmpty) raw
    else raw.copy(files =
      loadManifests(logDir, raw.manifests, conf) ++ raw.files)
  }

  /** Resolve exactly `refs` (file manifests or header-carried groups)
    * into their entries — the SELECTIVE half of [[read]] that manifest
    * skipping plans through (r16 VERDICT task 1): a cold pruned scan
    * hands only the refs whose partition summaries can match its
    * predicate, and pays parsing for those alone. */
  private[graft] def resolveRefs(logDir: Path, refs: Seq[ManifestRef],
      conf: Configuration): Seq[DataFile] =
    loadManifests(logDir, refs, conf)

  def readCurrentTrusted(logDir: Path, conf: Configuration): Option[Snapshot] = {
    val th = headTrusted.get(logDir.toString)
    if (th != null) Some(th.served)
    else currentVersion(logDir, conf).map(read(logDir, _, conf))
  }

  // ------------------------------------------------------ commit index

  /** One indexed commit: header essentials plus the precomputed
    * first-added file records (exactly [[readChanged]]'s answer). */
  private[table] final case class CommitIndexEntry(
      v: Long, ts: Long, op: String, files: Seq[DataFile])
  private[table] final case class CommitIndexChunk(
      from: Long, to: Long, entries: Seq[CommitIndexEntry])

  /** The PERSISTED COMMIT INDEX: every `IndexChunkSize`-th commit
    * best-effort writes one immutable chunk file covering the just-
    * completed version range, holding each commit's header essentials
    * and first-added files. Cold streaming catch-up / provenance over
    * K commits then reads K/chunk INDEX FILES instead of parsing K
    * raw headers — the difference between seconds and milliseconds on
    * a 10⁴-commit log, and the reason a fresh driver can resume a
    * long-stopped stream in O(changed), not O(commits × parse).
    * Chunks are immutable once written (they cover only completed
    * ranges of an append-only log); losing a write costs nothing but
    * the fallback to raw headers. Chunk size balances the amortized
    * write pause (one ~chunk-header re-read per chunk) against index
    * file count. */
  private[table] val IndexChunkSize = 256L
  private def chunkName(from: Long, to: Long): String =
    f"ci-$from%08d-$to%08d.index.json"
  private val ChunkRe = raw"ci-(\d{8})-(\d{8})\.index\.json".r

  /** loaded chunks by (logDir, from); a `None` value records a probe
    * miss and expires, so a chunk written later (possibly by another
    * process) is eventually picked up */
  // LRU cap sized for the 10⁵-commit shape: a full provenance or
  // catch-up sweep touches every chunk of the log IN ORDER, so a cap
  // below commits/IndexChunkSize makes consecutive sweeps 100% misses
  // (the 64-entry cap covered 16k commits; the 10⁵-commit shakeout
  // re-read all 391 chunks every sweep — ~9 µs/version instead of
  // ~2 µs). 1024 entries × ~25 KB/chunk ≈ 25 MB covers 262k commits;
  // logs beyond that degrade gracefully to amortized chunk re-reads.
  private val chunkCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long),
        (Option[Map[Long, CommitIndexEntry]], Long)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long),
            (Option[Map[Long, CommitIndexEntry]], Long)]): Boolean =
        size() > 1024
    })

  private def chunkFor(logDir: Path, version: Long,
      conf: Configuration): Option[Map[Long, CommitIndexEntry]] = {
    if (version < 0) return None
    val from = (version / IndexChunkSize) * IndexChunkSize
    val key = (logDir.toString, from)
    val now = System.currentTimeMillis()
    val cached = chunkCache.get(key)
    if (cached != null && (cached._1.isDefined || cached._2 > now))
      return cached._1
    val loaded: Option[Map[Long, CommitIndexEntry]] =
      try {
        val p = new Path(logDir, chunkName(from, from + IndexChunkSize - 1))
        val f = fs(logDir, conf)
        if (!f.exists(p)) None
        else {
          val in = f.open(p)
          val json =
            try new String(org.apache.commons.io.IOUtils.toByteArray(in),
              StandardCharsets.UTF_8)
            finally in.close()
          val chunk = Serialization.read[CommitIndexChunk](json)
          Some(chunk.entries.map(e => e.v -> e).toMap)
        }
      } catch { case _: Exception => None }
    chunkCache.put(key, (loaded, now + 30000L))
    loaded
  }

  /** Returns true iff the chunk file now exists (written here or
    * already present); false = range skipped for an undecided marker. */
  private def writeIndexChunk(logDir: Path, from: Long, to: Long,
      conf: Configuration): Boolean = {
    val f = fs(logDir, conf)
    val target = new Path(logDir, chunkName(from, to))
    if (f.exists(target)) return true
    // an UNDECIDED pending-txn header in the range must not be
    // resolved here: readRaw's resolution would wait out the marker
    // and then FORCE-ABORT it — and when the pending header is the one
    // the current commit just published (a publish landing exactly on
    // a chunk boundary), that aborts the committer's own transaction.
    // Chunks are best-effort; skip — the NEXT boundary re-attempts the
    // preceding range (see commit), and backfill covers older gaps.
    (from to to).foreach { v =>
      val stored = readStored(logDir, v, conf)
      if (stored.pendingTxn.exists(m => txnState(m, conf).isEmpty))
        return false
    }
    val entries = (from to to).map { v =>
      val raw = readRaw(logDir, v, conf)
      CommitIndexEntry(v, raw.timestampMs, raw.operation,
        resolveChanged(logDir, v, raw, conf))
    }
    val json = Serialization.write(CommitIndexChunk(from, to, entries))
    val tmp = new Path(logDir,
      s".${chunkName(from, to)}.${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!f.rename(tmp, target)) f.delete(tmp, false)
    chunkCache.remove((logDir.toString, from))
    f.exists(target)
  }

  /** Write any missing COMPLETE index chunks up to `head` — the
    * one-time backfill for logs that predate the commit index (chunks
    * are otherwise written as commits complete each range). Returns
    * the number of chunks written. */
  def backfillIndex(logDir: Path, head: Long, conf: Configuration): Int = {
    val f = fs(logDir, conf)
    var written = 0
    var from = 0L
    while (from + IndexChunkSize - 1 <= head) {
      val to = from + IndexChunkSize - 1
      if (!f.exists(new Path(logDir, chunkName(from, to))))
        try { if (writeIndexChunk(logDir, from, to, conf)) written += 1 }
        catch { case _: Exception => () }
      from += IndexChunkSize
    }
    written
  }

  /** Reap stale index chunks when a logDir restarts at version 0
    * (DROP + re-CREATE reusing the path). */
  private def dropIndexChunks(logDir: Path, conf: Configuration): Unit =
    try {
      val f = fs(logDir, conf)
      if (f.exists(logDir)) f.listStatus(logDir).foreach { st =>
        st.getPath.getName match {
          case ChunkRe(_, _) => f.delete(st.getPath, false)
          case _ => ()
        }
      }
    } catch { case _: Exception => () }

  /** Paths first introduced by commit `version` — indexed, else
    * O(changed) from the raw header. */
  def readAdded(logDir: Path, version: Long, conf: Configuration): Seq[String] =
    chunkFor(logDir, version, conf).flatMap(_.get(version)) match {
      case Some(e) => e.files.map(_.path)
      case None => readRaw(logDir, version, conf).added
    }

  /** Full [[DataFile]] records for the files FIRST ADDED by `version`'s
    * commit, resolved in O(changed files): [[layout]] guarantees an
    * added file lives in the commit's inline remainder or in a manifest
    * the commit itself introduced (a reused ref only ever carries files
    * that already existed), so only the NEW manifests are opened —
    * never the whole snapshot. Streaming catch-up over K commits is
    * K × |changed|, not K × |table|. (The rare tier-merge commit
    * introduces one merged manifest; loading it to filter by `added`
    * is the amortized O(log files)/entry cost of keeping the ref list
    * logarithmic.) */
  def readChanged(logDir: Path, version: Long, conf: Configuration): Seq[DataFile] = {
    chunkFor(logDir, version, conf).flatMap(_.get(version)) match {
      case Some(e) => e.files
      case None =>
        resolveChanged(logDir, version, readRaw(logDir, version, conf), conf)
    }
  }

  private def resolveChanged(logDir: Path, version: Long, raw: Snapshot,
      conf: Configuration): Seq[DataFile] = {
    val added = raw.added.toSet
    if (added.isEmpty) return Nil
    val prevManifests: Set[String] =
      if (version == 0) Set.empty
      else readRaw(logDir, version - 1, conf).manifests.map(_.path).toSet
    val introduced = raw.manifests.filterNot(m => prevManifests.contains(m.path))
    (raw.files ++ introduced.flatMap(loadManifest(logDir, _, conf)))
      .filter(f => added.contains(f.path))
  }

  private def manifestName(version: Long): String =
    f"m-$version%08d-${java.util.UUID.randomUUID().toString}.manifest.json"

  // Manifests are immutable once referenced, so a small LRU keyed by
  // absolute path is always coherent; it turns the per-read resolution
  // and the per-commit reuse check into cache hits.
  private val manifestCache =
    new java.util.LinkedHashMap[String, Seq[DataFile]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[DataFile]]): Boolean = size > 256
    }

  /** Bench/test hook: drop cached manifest content so a timed read
    * resolves cold like a fresh process (the header caches have
    * [[purgeRawCache]]; without this the manifest side stays warm and
    * a "cold" snapshot-read measurement reads as ~0). */
  private[graft] def purgeManifestCache(): Unit =
    manifestCache.synchronized(manifestCache.clear())

  /** Manifest parse on the cold-read HOT PATH: a million-entry head
    * resolves through manifests holding ~10⁶ DataFile entries, and
    * json4s's reflective `extract` costs ~7 µs/entry there (jstack on
    * the planning_1m cold read lands squarely in
    * org.json4s.Extraction / ScalaType memo lookups / per-field
    * JValue scans) — the dominant term of the 7 s cold
    * materialization. The token-streaming walk below parses the same
    * shape in ~1 µs/entry. STRICT about what it understands and
    * fail-open about everything else: any structural surprise
    * (unknown nesting it cannot skip, a type it does not expect)
    * aborts to the json4s path, so evolution of the manifest schema
    * degrades to the old speed, never to a wrong parse. Unknown
    * FIELDS are skipped like json4s does; absent optional fields take
    * the case-class defaults. */
  private[table] def parseManifest(json: String): Manifest =
    try parseManifestStreaming(json)
    catch {
      case scala.util.control.NonFatal(_) =>
        JsonMethods.parse(json).extract[Manifest]
    }

  private val jsonFactory = new com.fasterxml.jackson.core.JsonFactory()

  private[table] def parseManifestStreaming(json: String): Manifest = {
    import com.fasterxml.jackson.core.JsonToken._
    val p = jsonFactory.createParser(json)
    def expect(t: com.fasterxml.jackson.core.JsonToken): Unit =
      if (p.currentToken() != t)
        throw new IllegalStateException(s"expected $t, got ${p.currentToken()}")
    def stringMap(): Map[String, String] = {
      expect(START_OBJECT)
      val b = Map.newBuilder[String, String]
      while (p.nextToken() == FIELD_NAME) {
        val k = p.currentName()
        val v = p.nextToken() match {
          case VALUE_STRING => p.getText
          case VALUE_NULL => null
          case other => throw new IllegalStateException(s"bad map value $other")
        }
        b += k -> v
      }
      expect(END_OBJECT)
      b.result()
    }
    def colStats(): ColStats = {
      expect(START_OBJECT)
      var tag: String = null; var min: String = null; var max: String = null
      var nullCount = 0L
      while (p.nextToken() == FIELD_NAME) {
        val k = p.currentName(); p.nextToken()
        k match {
          case "tag" => tag = if (p.currentToken() == VALUE_NULL) null else p.getText
          case "min" => min = if (p.currentToken() == VALUE_NULL) null else p.getText
          case "max" => max = if (p.currentToken() == VALUE_NULL) null else p.getText
          case "nullCount" => nullCount = p.getLongValue
          case _ => p.skipChildren()
        }
      }
      expect(END_OBJECT)
      ColStats(tag, min, max, nullCount)
    }
    def dataFile(): DataFile = {
      expect(START_OBJECT)
      var path: String = null
      var parts: Map[String, String] = Map.empty
      var rowCount = 0L; var sizeBytes = 0L; var seq = 0L
      var stats: Option[Map[String, ColStats]] = None
      while (p.nextToken() == FIELD_NAME) {
        val k = p.currentName(); p.nextToken()
        k match {
          case "path" => path = p.getText
          case "partitionValues" => parts = stringMap()
          case "rowCount" => rowCount = p.getLongValue
          case "sizeBytes" => sizeBytes = p.getLongValue
          case "seq" => seq = p.getLongValue
          case "stats" =>
            if (p.currentToken() == VALUE_NULL) stats = None
            else {
              expect(START_OBJECT)
              val b = Map.newBuilder[String, ColStats]
              while (p.nextToken() == FIELD_NAME) {
                val col = p.currentName(); p.nextToken()
                b += col -> colStats()
              }
              expect(END_OBJECT)
              stats = Some(b.result())
            }
          case _ => p.skipChildren()
        }
      }
      expect(END_OBJECT)
      if (path == null) throw new IllegalStateException("manifest entry lacks path")
      DataFile(path, parts, rowCount, sizeBytes, stats, seq)
    }
    try {
      p.nextToken(); expect(START_OBJECT)
      var files: Vector[DataFile] = Vector.empty
      val b = Vector.newBuilder[DataFile]
      while (p.nextToken() == FIELD_NAME) {
        p.currentName() match {
          case "files" =>
            p.nextToken(); expect(START_ARRAY)
            while (p.nextToken() == START_OBJECT) b += dataFile()
            expect(END_ARRAY)
          case _ => p.nextToken(); p.skipChildren()
        }
      }
      expect(END_OBJECT)
      files = b.result()
      Manifest(files)
    } finally p.close()
  }

  /** Raw snapshot-header reads — specs pin time-travel resolution cost
    * (binary search must be O(log commits), not a linear walk). */
  private val rawHeaderReads = new java.util.concurrent.atomic.AtomicLong
  def rawHeaderReadCount: Long = rawHeaderReads.get

  /** Manifest resolutions (cache hits included) — a manifest resolved
    * from cache still costs an O(entries) scan downstream, so specs pin
    * catch-up planning cost by asserting this counter's delta. */
  private val manifestResolutions = new java.util.concurrent.atomic.AtomicLong
  def manifestResolutionCount: Long = manifestResolutions.get

  /** Header-carried manifest ref: `hdr:v<version>-<nonce>` names the
    * manifest stored INSIDE header `version`'s [[Snapshot.carried]]
    * field. The nonce makes the name unique per PUBLISH — exactly the
    * orphan-safe property UUID manifest names have — so carried
    * content is cacheable by name with no revalidation: a drop +
    * recreate reusing the same logDir and version numbers mints new
    * nonces, and a stale cache entry is simply unreachable (no live
    * header references the old name). The nonce is optional on parse
    * for the brief nonce-less interim format. */
  private val HdrRefRe = raw"hdr:v(\d+)(?:-[0-9a-f]+)?".r

  /** Manifest content a commit IN FLIGHT on this thread is about to
    * carry in its own header: the same layout call's tier merging and
    * resolved-order computation must read it before the header exists.
    * Primary service is the (unreachable-until-published) name-keyed
    * manifestCache seed; this thread-local is the eviction-proof
    * backstop, cleared unconditionally when [[commit]] returns. */
  private val pendingCarried =
    new ThreadLocal[Map[(String, Long), Seq[DataFile]]] {
      override def initialValue(): Map[(String, Long), Seq[DataFile]] =
        Map.empty
    }

  private def loadManifest(logDir: Path, ref: ManifestRef,
      conf: Configuration): Seq[DataFile] =
    loadManifestWith(logDir, ref, conf, pendingCarried.get)

  private def loadManifestWith(logDir: Path, ref: ManifestRef,
      conf: Configuration,
      /** the CALLER thread's in-flight carried content — passed
        * explicitly so [[loadManifests]]' pool workers resolve an
        * uncommitted carrier exactly like the committing thread */
      pending: Map[(String, Long), Seq[DataFile]]): Seq[DataFile] = {
    manifestResolutions.incrementAndGet()
    // hdr refs are NOT paths (Hadoop Path rejects the pseudo-scheme) —
    // their cache key is a plain string under the log dir
    val key =
      if (ref.path.startsWith("hdr:")) s"$logDir#${ref.path}"
      else new Path(logDir, ref.path).toString
    val cached = manifestCache.synchronized(Option(manifestCache.get(key)))
    cached.getOrElse {
      ref.path match {
        case HdrRefRe(v) =>
          // cold resolve: through the HEADER cache (mtime+length
          // validated), or this thread's in-flight commit before its
          // header exists; the nonce-unique name then caches like any
          // UUID-named manifest — the committing process's own tier
          // merges and re-reads cost ZERO round-trips
          val files = pending.get((logDir.toString, v.toLong))
            .getOrElse(readStored(logDir, v.toLong, conf).carried.getOrElse(
              throw new java.io.IOException(
                s"header v$v of $logDir is referenced as a manifest " +
                  "carrier but carries nothing — expired prematurely?")))
          manifestCache.synchronized(manifestCache.put(key, files))
          files
        case _ =>
          val f = fs(logDir, conf)
          val in = f.open(new Path(logDir, ref.path))
          val bytes =
            try org.apache.commons.io.IOUtils.toByteArray(in)
            finally in.close()
          val files =
            parseManifest(new String(bytes, StandardCharsets.UTF_8)).files
          manifestCache.synchronized(manifestCache.put(key, files))
          files
      }
    }
  }

  /** The manifest-resolution pool: cold reads of a many-manifest
    * snapshot (10⁶ files ≈ 19 refs of ≤65k entries) parse refs in
    * PARALLEL — each manifest is an independent immutable file and the
    * per-entry token decode is pure CPU, so sequential resolution left
    * all but one core idle on exactly the metadata-plane path the 1M
    * planning bench times (guide §2.6: overlap independent work).
    * Daemon threads; sized to the host, not the Spark conf — this is
    * driver-side metadata work, not task execution. */
  private lazy val manifestPool = java.util.concurrent.Executors.newFixedThreadPool(
    math.min(16, math.max(2, Runtime.getRuntime.availableProcessors() / 2)),
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-manifest-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })

  /** Resolve `refs` in ref-list order, parsing manifest FILES in
    * parallel (order of the concatenated result is unchanged — the
    * resolved snapshot's file order stays manifest order). Single-ref
    * lists and cache-hit-heavy reads go straight through. */
  private def loadManifests(logDir: Path, refs: Seq[ManifestRef],
      conf: Configuration): Seq[DataFile] =
    if (refs.size <= 1) refs.flatMap(loadManifest(logDir, _, conf))
    else {
      val pending = pendingCarried.get   // captured on the caller thread
      val tasks: Seq[java.util.concurrent.Callable[Seq[DataFile]]] =
        refs.map(r => new java.util.concurrent.Callable[Seq[DataFile]] {
          override def call(): Seq[DataFile] =
            loadManifestWith(logDir, r, conf, pending)
        })
      val futures = manifestPool.invokeAll(
        java.util.Arrays.asList(tasks: _*))
      import scala.jdk.CollectionConverters._
      futures.asScala.toSeq.flatMap { fut =>
        try fut.get()
        catch {
          // surface the resolution failure itself, not the pool wrapper
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }
    }

  /** Largest spill that rides inside its own header instead of a
    * manifest file: TierUnit entries — exactly the tier-0 manifest a
    * steady 1-file-per-commit stream produces — so the carrier header's
    * bytes stay within the same ~5 KB bound as a full-inline header.
    * Bigger spills (bulk appends, merge outputs) keep paying the
    * manifest-file create they always paid. */
  private val CarryMaxFiles = 33

  /** Place one spilled manifest: small spills are CARRIED in the
    * header being committed (`hdr:v<version>-<nonce>` ref, content
    * returned for [[Snapshot.carried]] via [[carriedFor]] and seeded
    * into the name-keyed manifestCache + the thread-local backstop so
    * the same layout's tier merge / resolution reads are free);
    * larger ones are written as ordinary manifest files. Content is
    * deterministic for a given version — the O(delta) fast path and
    * the full re-resolving path lay out identically modulo the nonce
    * (LayoutFuzzSpec canonicalizes it like the UUID manifest names). */
  private def placeManifest(logDir: Path, version: Long,
      files: Seq[DataFile], conf: Configuration,
      kinds: Map[String, PartKind]): ManifestRef =
    if (files.size <= CarryMaxFiles) {
      val name = s"hdr:v$version-${
        java.util.UUID.randomUUID().toString.replace("-", "").take(8)}"
      pendingCarried.set(pendingCarried.get +
        ((logDir.toString, version) -> files))
      manifestCache.synchronized(
        manifestCache.put(s"$logDir#$name", files))
      val (sums, bytes, rows) = summarizeFiles(files, kinds)
      ManifestRef(name, files.size, bytes, rows, sums)
    } else writeManifest(logDir, version, files, conf, kinds)

  /** Place a spill of ANY size: chunked into ≤[[ManifestSplitMaxFiles]]
    * entries per manifest, same as tier-merge output. Without this, a
    * full-table rewrite (or one commit adding >cap files — bulk
    * add_files, a giant overwrite) would be born as a single sealed
    * mega-manifest whose partition summary spans the whole table,
    * silently re-introducing the resolve-everything cold-plan cost the
    * merge chunking removed (ADVICE r17 medium). Chunks keep `files`
    * order, so resolved order and the O(delta) byte-identity contract
    * (LayoutFuzzSpec) are unchanged. */
  private def placeManifests(logDir: Path, version: Long,
      files: Seq[DataFile], conf: Configuration,
      kinds: Map[String, PartKind]): Seq[ManifestRef] =
    if (files.size <= ManifestSplitMaxFiles)
      Seq(placeManifest(logDir, version, files, conf, kinds))
    else files.grouped(ManifestSplitMaxFiles)
      .map(chunk => placeManifest(logDir, version, chunk, conf, kinds))
      .toSeq

  private def writeManifest(logDir: Path, version: Long,
      files: Seq[DataFile], conf: Configuration,
      kinds: Map[String, PartKind]): ManifestRef = {
    val name = manifestName(version)
    val f = fs(logDir, conf)
    f.mkdirs(logDir)
    val out = f.create(new Path(logDir, name), /*overwrite=*/ false)
    try out.write(Serialization.write(Manifest(files))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    manifestCache.synchronized(
      manifestCache.put(new Path(logDir, name).toString, files))
    val (sums, bytes, rows) = summarizeFiles(files, kinds)
    ManifestRef(name, files.size, bytes, rows, sums)
  }

  /** Small remainders stay inline in the snapshot JSON; past this they
    * go to a manifest file. 32 (was 8 through r13) by the commit
    * round-trip ledger: a 1-file-append stream spills one manifest per
    * InlineMaxFiles+1 commits, so the bound is the dominant term of
    * the steady-state create count after the hint amortization —
    * 1/9 ≈ 0.111 at 8 vs 1/33 ≈ 0.030 at 32 (r13 VERDICT task 6: the
    * reference's floor is 2 round-trips; this puts the protocol at
    * ~2.05). The BYTE cost is ≤32 inline entries (~5 KB) re-carried
    * per header — far under what Delta (all actions) or Iceberg (all
    * snapshots) carry in their per-commit metadata. Tier geometry
    * scales with it ([[TierUnit]]), preserving the O(log files)
    * rewrite amplification. */
  private val InlineMaxFiles = 32
  /** Refs up to this many stay inline in the snapshot JSON (small
    * tables pay zero extra round-trips); past it they move to a
    * manifest-list file ([[ManifestList]]) whose name rides the header
    * — and which the next commit REUSES when its refs are unchanged. */
  private val InlineMaxRefs = 8
  /** Tiered manifest merging (the Bentley–Saxe / LSM shape): a
    * manifest's TIER is ⌊log_[[TierBase]](fileCount/[[TierUnit]])⌋-ish
    * ([[tierOf]]); whenever [[TierBase]] manifests accumulate in one
    * tier they merge into one manifest a tier up. Each file entry is
    * therefore rewritten O(log(files)) times over its LIFETIME and the
    * ref list stays O(TierBase · log(files)) — ~28 refs at 10⁶ files —
    * where the previous all-refs-at-cap compaction rewrote the FULL
    * table every ~MaxManifestRefs spills (the amortized O(files/288)
    * bytes/commit measured as the 78 → 22 commits/s decline over the
    * round-11 10⁵-commit build; round-11 VERDICT task 1). */
  private val TierBase = 4
  /** Size quantum of tier 0 — the smallest spill a pure-append stream
    * produces (InlineMaxFiles + 1). */
  private val TierUnit = InlineMaxFiles + 1

  /** Hard cap on one manifest's entry count (r17): tier merging used
    * to concatenate without bound, so a 10⁶-file table's top tier was
    * one ~half-million-entry manifest — a single matching date range
    * forced a cold pruned plan to parse and lay out half the table.
    * Merged output now splits into ≤[[ManifestSplitMaxFiles]]-entry
    * chunks in file (≈ ingest, ≈ partition) order, each with its own
    * tight partition summary; full-sized chunks are SEALED (treated
    * as a top tier that never re-merges — re-merging would split
    * again, churning bytes forever). The ref list stays
    * O(files/cap + TierBase·log(cap)) — ~20 entries at 10⁶ files,
    * well inside the manifest-list indirection. */
  private[table] val ManifestSplitMaxFiles = 65536

  private def tierOf(ref: ManifestRef): Int =
    if (ref.fileCount >= ManifestSplitMaxFiles) Int.MaxValue   // sealed
    else {
      var t = 0
      var c = ref.fileCount / TierUnit
      while (c > 0) { t += 1; c /= TierBase }
      t
    }

  /** Merge same-tier manifests until every tier holds fewer than
    * [[TierBase]] — deterministic (tier membership and refs order only),
    * so the O(delta) fast path and the full re-resolving path lay out
    * identically (LayoutFuzzSpec). Merged content is the concatenation
    * of the members' stored entries in refs order; the merged manifest
    * is appended after the survivors. Cascades upward when a merge
    * fills the next tier. */
  private def mergeTiers(logDir: Path, version: Long,
      refs0: Seq[ManifestRef], conf: Configuration,
      kinds: Map[String, PartKind]): Seq[ManifestRef] = {
    var refs = refs0
    var done = false
    while (!done) {
      val lowest = refs.groupBy(tierOf)
        .filter { case (t, g) => t != Int.MaxValue && g.size >= TierBase }
        .keys.toSeq.sorted.headOption
      lowest match {
        case None => done = true
        case Some(t) =>
          val (members, survivors) = refs.partition(r => tierOf(r) == t)
          val mergedFiles = loadManifests(logDir, members, conf)
          // split oversized merges into sealed, summary-tight chunks
          // (file order = ingest order, so chunks stay contiguous in
          // the partition ranges manifest skipping prunes on)
          refs = survivors ++ mergedFiles.grouped(ManifestSplitMaxFiles)
            .map(chunk => writeManifest(logDir, version, chunk, conf, kinds))
      }
    }
    refs
  }

  /** Decide where the ref list itself lives: inline in the header when
    * small, else in a manifest-list file — reusing the PARENT's list
    * file when the refs are unchanged (the common pure-inline-append
    * commit then writes zero ref-list bytes). An UNCHANGED over-bound
    * ref list whose parent stored it inline (a pre-upgrade header, or
    * the tier shape right at the boundary) stays inline too — writing
    * a fresh list file per no-change commit would be a pure waste.
    * Returns (inline refs, list-file name). */
  private def placeRefs(logDir: Path, version: Long,
      refs: Seq[ManifestRef], prevRefs: Seq[ManifestRef],
      prevList: Option[String], conf: Configuration)
      : (Seq[ManifestRef], Option[String]) =
    if (refs.size <= InlineMaxRefs) (refs, None)
    else if (refs == prevRefs) {
      if (prevList.isDefined) (Nil, prevList) else (refs, None)
    }
    else (Nil, Some(writeManifestList(logDir, version, refs, conf)))

  private def manifestListName(version: Long): String =
    f"ml-$version%08d-${java.util.UUID.randomUUID().toString}.manifestlist.json"

  // list files are immutable once referenced (UUID names), so the LRU
  // is always coherent; sized like manifestCache
  private val listCache =
    new java.util.LinkedHashMap[String, Seq[ManifestRef]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[ManifestRef]]): Boolean = size > 256
    }

  private def loadManifestList(logDir: Path, name: String,
      conf: Configuration): Seq[ManifestRef] = {
    val key = new Path(logDir, name).toString
    val cached = listCache.synchronized(Option(listCache.get(key)))
    cached.getOrElse {
      val f = fs(logDir, conf)
      val in = f.open(new Path(logDir, name))
      val bytes =
        try org.apache.commons.io.IOUtils.toByteArray(in)
        finally in.close()
      val refs = JsonMethods.parse(new String(bytes, StandardCharsets.UTF_8))
        .extract[ManifestList].refs
      listCache.synchronized(listCache.put(key, refs))
      refs
    }
  }

  private def writeManifestList(logDir: Path, version: Long,
      refs: Seq[ManifestRef], conf: Configuration): String = {
    val name = manifestListName(version)
    val f = fs(logDir, conf)
    f.mkdirs(logDir)
    val out = f.create(new Path(logDir, name), /*overwrite=*/ false)
    try out.write(Serialization.write(ManifestList(refs))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    listCache.synchronized(
      listCache.put(new Path(logDir, name).toString, refs))
    name
  }

  def readCurrent(logDir: Path, conf: Configuration): Option[Snapshot] =
    currentVersion(logDir, conf).map(read(logDir, _, conf))

  /** Hint-write cadence: `_head.hint` refreshes every this-many
    * versions (plus v0). The hint only accelerates COLD-process head
    * discovery — a per-commit overwrite was one full round-trip per
    * commit for a bounded cold-start saving; at this cadence a cold
    * reader pays O(log HintEvery) forward probes instead (gallop +
    * bisect, see [[probeForward]]). 128 puts the steady-state hint
    * cost at 1/128 create per commit with a ≤15-probe cold catch-up —
    * with the tier-0 spill now riding the header ([[Snapshot.carried]])
    * the hint and the amortized tier merges are the ONLY creates left
    * above the reference's 2-round-trip floor: 2 + 1/128 + ~1/100 ≈
    * 2.018/commit (r14 VERDICT task 7; r13 task 6 took the cadence
    * 8 → 64). */
  private[table] val HintEvery = 128L

  /**
   * Atomic CAS commit: writes `snapshot` as version `expected + 1`.
   * Fails with [[CommitConflictException]] if that version already exists
   * (another writer won the race) — the optimistic-concurrency semantics
   * of `update_table_metadata_location(versionToken, ...)`.
   *
   * `appendOf = Some((base, added))` is the trusted-writer O(delta)
   * path: the caller asserts `snapshot.files == base.files ++ added`
   * where `base` is the EXACT Snapshot instance a read of version
   * `expected` returned. When `base` is reference-identical to the
   * served head (this process's own last commit), layout skips the
   * per-carried-entry verification walk entirely — commit CPU is
   * O(added + log files), not O(table files). Any deviation (different
   * instance, size mismatch, duplicate path, cold cache) falls back to
   * the full verifying path, whose output is byte-identical.
   */
  def commit(logDir: Path, expected: Option[Long], snapshot: Snapshot,
      conf: Configuration,
      appendOf: Option[(Snapshot, Seq[DataFile])] = None): Long = {
    val f = fs(logDir, conf)
    // one round-trip saved per steady-state commit: the dir exists once
    // anything committed to this log from this process (object stores
    // have no directories anyway — mkdirs there is a pure latency tax)
    if (!headCache.containsKey(logDir.toString)) f.mkdirs(logDir)
    val next = expected.map(_ + 1).getOrElse(0L)
    require(snapshot.version == next,
      s"snapshot.version ${snapshot.version} != expected next $next")
    // parent pre-check: the version-slot CAS alone cannot catch an
    // EXTERNAL drop+recreate of the table (the recreated log's head is
    // far below the stale cached one, so the slot is free and a blind
    // put would publish a gap-corrupted log — ADVICE r12). One status
    // call immediately before the CAS narrows that window to
    // microseconds; a miss purges this log's caches and surfaces as a
    // retryable conflict so the writer rediscovers the true head.
    expected.foreach { e =>
      if (!f.exists(new Path(logDir, snapshotName(e)))) {
        purgeRawCache(logDir)
        throw new CommitConflictException(
          s"parent version $e of $logDir is missing — table dropped or " +
            "recreated concurrently; re-read the head and retry")
      }
    }
    val target = new Path(logDir, snapshotName(next))
    // the thread-local carried-manifest seed only serves THIS layout
    // call (tier merge + resolution read the spill before its header
    // exists); the laid snapshot owns the content afterwards
    val (laid, layoutState) =
      try layout(logDir, expected, snapshot, conf, appendOf)
      finally pendingCarried.remove()
    val json = Serialization.write(laid)
    def put(): Unit = protocolFor(f, target).putIfAbsent(f, target,
      json.getBytes(StandardCharsets.UTF_8), next, expected)
    // self-heal the skipped mkdirs: a log dir deleted EXTERNALLY (not
    // through the catalog, which purges the caches) leaves a stale
    // head-cache entry — the one write that can then fail is this
    // publish, so recreate the dir and retry once. CAS conflicts are
    // not IOExceptions and never take this path; they DO drop the
    // trusted head (it just proved stale) so the retry rediscovers.
    try put() catch {
      case e: CommitConflictException =>
        headTrusted.remove(logDir.toString)
        throw e
      case e: java.io.IOException if !f.exists(logDir) =>
        f.mkdirs(logDir)
        put()
    }
    // published: the commit's files and change files are now
    // header-referenced — vacuum protects them the ordinary way, so
    // their in-flight registrations can be released (O(changed))
    laid.added.foreach(releaseInFlight)
    laid.changeFiles.foreach(releaseInFlight)
    // a CREATE (version 0) means DROP + re-CREATE may be reusing this
    // logDir's version paths — stale parsed headers AND index chunks
    // of the previous table must not survive into the new one (the
    // (mtime, length) probe alone can miss a same-length rewrite
    // within the filesystem's mtime granularity); any later version
    // just sheds its own slot
    if (next == 0L) { purgeRawCache(logDir); dropIndexChunks(logDir, conf) }
    else rawCache.remove((logDir.toString, next))
    // the head layout state updates only AFTER the CAS published this
    // version — a lost race throws above and can never poison it; the
    // put is version-guarded (putIfReplaces) because two in-process
    // writers can finish out of order AFTER their serialized CASes
    layoutCache.putIfReplaces(logDir.toString, layoutState,
      _.version < layoutState.version)
    headCacheAdvance(logDir, next)
    // the just-published head is served from memory until superseded:
    // its existence is CAS-proven, its bytes are known, headers are
    // immutable (see TrustedHead). Pending-txn commits are NOT trusted —
    // their effect is undecided until the marker resolves. The put is
    // version-guarded like headCacheAdvance: a slower thread must not
    // regress the trusted head (ADVICE r13 — currentVersionTrusted
    // would serve the older snapshot with zero probes until the next
    // commit's conflict self-heals it).
    if (laid.pendingTxn.isEmpty) {
      val storedView =
        if (laid.manifestList.isDefined && laid.manifests.isEmpty)
          laid.copy(manifests = layoutState.manifests)
        else laid
      headTrusted.putIfReplaces(logDir.toString,
        TrustedHead(next, storedView,
          storedView.copy(files = layoutState.resolvedFiles)),
        _.version < next)
    } else headTrusted.remove(logDir.toString)
    // completing an index-chunk range persists the chunk (best-effort:
    // losing it only costs the raw-header fallback). Also re-attempt the
    // PRECEDING range — a range skipped for an undecided txn marker at
    // its own boundary heals here once the marker is terminal (cost: one
    // exists-probe when it was written normally)
    if ((next + 1) % IndexChunkSize == 0)
      try {
        writeIndexChunk(logDir, next - IndexChunkSize + 1, next, conf)
        val prevFrom = next - 2 * IndexChunkSize + 1
        if (prevFrom >= 0)
          writeIndexChunk(logDir, prevFrom,
            prevFrom + IndexChunkSize - 1, conf)
      } catch { case _: Exception => () }
    if (next == 0L || next % HintEvery == 0L) writeHint(f, logDir, next)
    next
  }

  /** Drop every cached parsed header and index chunk under `logDir`
    * (table re-created or dropped: reused version paths must
    * re-read). */
  private[graft] def purgeRawCache(logDir: Path): Unit = {
    rawCache.synchronized {
      rawCache.keySet.removeIf(_._1 == logDir.toString)
    }
    chunkCache.synchronized {
      chunkCache.keySet.removeIf(_._1 == logDir.toString)
    }
    layoutCache.remove(logDir.toString)
    headCache.remove(logDir.toString)
    headTrusted.remove(logDir.toString)
    headStatusHandoff.remove(logDir.toString)
  }

  /** Drop every cached header/chunk under `logDir` AND its
    * subdirectories — branch chains live at `<logDir>/refs/<name>`, so
    * a table drop must purge by prefix or a recreate reusing the same
    * branch names could serve stale cached branch headers past the
    * mtime+length probe. */
  private[table] def purgeRawCacheUnder(logDir: Path): Unit = {
    val prefix = logDir.toString
    def covers(k: String): Boolean =
      k == prefix || k.startsWith(prefix + "/")
    rawCache.synchronized {
      rawCache.keySet.removeIf(e => covers(e._1))
    }
    chunkCache.synchronized {
      chunkCache.keySet.removeIf(e => covers(e._1))
    }
    layoutCache.removeIf(covers)
    headCache.keySet.removeIf(covers)
    headTrusted.removeIf(covers)
    headStatusHandoff.keySet.removeIf(covers)
  }

  /**
   * Bootstrap a NEW linear chain (a branch ref) at an arbitrary start
   * version: writes `snapshot` — already RESOLVED — as the chain's
   * first snapshot, laying every file into one self-contained manifest
   * under `logDir`. Branch dirs own their manifests outright; nothing
   * resolves across directories, so the layout needs no relative-path
   * tricks an object store would mangle. File entries are preserved
   * BYTE-EXACT — commit seqs survive the fork, which is what keeps the
   * Iceberg v2 `file.seq < delete.seq` rule coherent between a branch
   * chain and the chain it forked from (branch versions continue ABOVE
   * the fork version, never restarting at 0). `added` stays empty: a
   * fork introduces no files. One O(table-files) metadata write, paid
   * once per branch — data files are shared, never copied.
   */
  def bootstrap(logDir: Path, snapshot: Snapshot, conf: Configuration): Long = {
    val f = fs(logDir, conf)
    f.mkdirs(logDir)
    val (refs, inline) =
      if (snapshot.files.size > InlineMaxFiles)
        (Seq(writeManifest(logDir, snapshot.version, snapshot.files, conf,
          partKindsOf(snapshot))), Nil)
      else (Seq.empty[ManifestRef], snapshot.files)
    val laid = snapshot.copy(files = inline, manifests = refs,
      manifestList = None, added = Nil, minReader = 1)
    val target = new Path(logDir, snapshotName(snapshot.version))
    val json = Serialization.write(laid)
    protocolFor(f, target).putIfAbsent(f, target,
      json.getBytes(StandardCharsets.UTF_8), snapshot.version, None)
    // chain start: a dropped-and-recreated branch reuses version paths
    purgeRawCache(logDir)
    headCacheAdvance(logDir, snapshot.version)
    writeHint(f, logDir, snapshot.version)
    snapshot.version
  }

  /** Smallest committed version in `logDir` — branch chains start at
    * their fork version, not 0. Listing-based: branch logs are short
    * (the ref's own commits plus the bootstrap), so the listing stays
    * cheap even when the MAIN log is 10⁵ commits. */
  def minVersion(logDir: Path, conf: Configuration): Option[Long] = {
    val f = fs(logDir, conf)
    if (!f.exists(logDir)) return None
    val vs = f.listStatus(logDir).iterator.flatMap { st =>
      st.getPath.getName match {
        case SnapshotRe(v) => Some(v.toLong)
        case _             => None
      }
    }.toSeq
    if (vs.isEmpty) None else Some(vs.min)
  }

  /**
   * Decide the on-disk shape of a commit. The caller hands the FULL
   * logical file list; this splits it into (reused manifest refs, new
   * manifest, inline remainder) so the snapshot JSON is O(changed
   * files), not O(table files):
   *  - every previous manifest whose files ALL survive unchanged is
   *    referenced by id, never re-serialized;
   *  - the remainder (added files + survivors of partially-deleted
   *    manifests) goes to one new manifest, or stays inline when tiny;
   *  - [[mergeTiers]] then folds same-size-tier manifests together
   *    (O(log files) rewrites per entry over its lifetime, ref list
   *    bounded logarithmic — never a full-table rewrite);
   *  - [[placeRefs]] finally spills the ref list itself to a
   *    manifest-list file once it outgrows the inline bound, reusing
   *    the parent's list when refs are unchanged.
   * Also records `added` (paths not in the previous snapshot) for
   * O(changed) provenance walks. A manifest written here whose commit
   * then loses the CAS race is an unreferenced orphan — harmless, and
   * rewritten by the retry.
   */
  /** Resolved head state [[layout]] keeps per log so a PURE APPEND
    * lays out in O(delta) instead of O(table files): the full
    * path→entry map, which paths live in referenced manifests (vs
    * inline), and the refs/inline split as last written. Commit cost
    * was the quiet quadratic term at the 10⁵-commit / 10⁵-file shape
    * this log targets — every append re-resolved every manifest,
    * rebuilt an O(files) path set, seq map, and placement map, and
    * re-verified every manifest entry (~100 ms/commit at 50k files,
    * measured; vs ~3 ms through this cache). The cache is an
    * OPTIMIZATION ONLY: any mismatch (carried entry mutated, file
    * removed, duplicate path, cold cache, non-consecutive version)
    * falls back to the full re-resolving path, whose output is
    * byte-identical; the state updates only after the version-slot CAS
    * succeeds, so a lost race can never poison it. */
  private case class LayoutState(version: Long,
      byPath: Map[String, DataFile],
      manifestPaths: Set[String],
      manifests: Seq[ManifestRef],
      listPath: Option[String],
      /** the laid header's inline remainder, in header order */
      inline: Vector[DataFile],
      /** the full RESOLVED file list in served order (manifest
        * expansion ++ inline) — the exact Vector [[read]] serves for
        * the trusted head, maintained incrementally (O(delta) per
        * append; rebuilt from the manifest cache on the amortized
        * tier-merge commits) so neither commit nor the writer's next
        * read ever walks O(table files). */
      resolvedFiles: Vector[DataFile],
      /** the laid header's maintenance counters ([[Snapshot.counters]])
        * — the prior the next append's O(delta) stamping derives from */
      counters: Map[String, Long] = Map.empty)

  // ---- manifest partition summaries (r16 VERDICT task 1) -------------

  /** How a partition column's stored value strings may be summarized:
    * the stored min/max are only usable for pruning when the order
    * they were computed under provably equals the order the pushed
    * predicate compares under ([[FileStats.compare]] by tag). */
  private sealed trait PartKind
  private case object LongKind extends PartKind    // integral: numeric order
  private case object DateKind extends PartKind    // validated ISO → epoch day
  private case object StringKind extends PartKind  // lexicographic

  private val DateValueRe = raw"\d{4}-\d{2}-\d{2}".r

  private val kindCache =
    new java.util.LinkedHashMap[(String, Seq[PartField], Seq[String]),
        Map[String, PartKind]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Seq[PartField], Seq[String]),
            Map[String, PartKind]]): Boolean = size > 64
    }

  /** Summary kind per partition column of `snapshot`, from its schema
    * and hidden-partitioning spec; columns of non-summarizable types
    * are absent. Cached by (schemaJson, spec, columns) — one schema
    * parse per table shape, not per manifest write. */
  private def partKindsOf(snapshot: Snapshot): Map[String, PartKind] = {
    if (snapshot.partitionColumns.isEmpty) return Map.empty
    val key = (snapshot.schemaJson, snapshot.partitionSpec,
      snapshot.partitionColumns)
    val cached = kindCache.synchronized(Option(kindCache.get(key)))
    cached.getOrElse {
      import org.apache.spark.sql.types._
      val computed: Map[String, PartKind] =
        try {
          val schema = DataType.fromJson(snapshot.schemaJson)
            .asInstanceOf[StructType]
          def ofType(dt: DataType): Option[PartKind] = dt match {
            case ByteType | ShortType | IntegerType | LongType =>
              Some(LongKind)
            case DateType => Some(DateKind)
            case StringType => Some(StringKind)
            // TIMESTAMP identity partitions stay unstamped by design
            // (r17 VERDICT observation 4): the stored string was
            // rendered under the WRITER's session zone, which a reader
            // cannot recover — comparing a pushed instant against it
            // under another zone could skip wrongly. Date-family
            // HIDDEN transforms of a timestamp are covered below
            // (their rendering is fixed-pattern), and the SOURCE
            // column's footer stats (micros, zone-free) now carry the
            // data-column manifest summary anyway.
            case _ => None
          }
          def ofField(name: String): Option[PartKind] = {
            val spec = snapshot.partitionSpec.find(_.name == name)
            spec match {
              case Some(f) if !f.isIdentity => f.transform match {
                // rendered forms decide the kind: year "2026" and
                // bucket "3" parse as longs; day "2026-01-02" is the
                // validated ISO date; month "2026-01" and hour
                // "2026-01-02-10" are fixed-width zero-padded patterns
                // whose lexicographic order IS chronological order.
                // (day used to map to LongKind — toLong failed on
                // every value and the summary silently dropped:
                // conservative, but pure waste.)
                case "year" | "bucket" => Some(LongKind)
                case "day" => Some(DateKind)
                case "month" | "hour" => Some(StringKind)
                case "truncate" =>
                  schema.fields.find(_.name == f.source)
                    .flatMap(x => ofType(x.dataType))
                case _ => None
              }
              case _ =>
                schema.fields.find(_.name == name)
                  .flatMap(x => ofType(x.dataType))
            }
          }
          snapshot.partitionColumns
            .flatMap(c => ofField(c).map(c -> _)).toMap
        } catch { case scala.util.control.NonFatal(_) => Map.empty }
      kindCache.synchronized(kindCache.put(key, computed))
      computed
    }
  }

  /** (summaries, byte sum, row sum) of one manifest group. A column
    * whose values defy its kind (unparseable number, malformed date)
    * is dropped from the summary for THIS manifest — the manifest is
    * then always read on that column; never a wrong skip. Summaries
    * use a sorted map so the O(delta) and full layout paths serialize
    * byte-identically. */
  private def summarizeFiles(files: Seq[DataFile],
      kinds: Map[String, PartKind])
      : (Option[Map[String, ColStats]], Long, Long) = {
    var bytes = 0L; var rows = 0L; var rowsKnown = true
    files.foreach { f =>
      bytes += f.sizeBytes
      if (f.rowCount < 0) rowsKnown = false else rows += f.rowCount
    }
    val rowSum = if (rowsKnown) rows else -1L
    // kinds empty (unpartitioned table) is NOT a bail-out: the
    // data-column fold below still stamps member footer bounds, so an
    // unpartitioned sort-clustered table skips manifests on its sort
    // key exactly like a partitioned one (r19 — the early return here
    // used to silently exclude unpartitioned tables from manifest
    // skipping altogether)
    val out = scala.collection.immutable.SortedMap.newBuilder[String, ColStats]
    kinds.foreach { case (colName, kind) =>
      var nulls = 0L; var any = false; var bad = false
      var minL = Long.MaxValue; var maxL = Long.MinValue
      var minS: String = null; var maxS: String = null
      val it = files.iterator
      while (!bad && it.hasNext) {
        it.next().partitionValues.get(colName) match {
          case None => nulls += 1
          case Some(v) if v == null || v == "__HIVE_DEFAULT_PARTITION__" =>
            nulls += 1
          case Some(v) =>
            any = true
            kind match {
              case LongKind =>
                try {
                  val l = v.trim.toLong
                  if (l < minL) minL = l
                  if (l > maxL) maxL = l
                } catch { case _: NumberFormatException => bad = true }
              case DateKind =>
                if (!DateValueRe.matches(v)) bad = true
                else try {
                  val d = java.time.LocalDate.parse(v).toEpochDay
                  if (d < minL) minL = d
                  if (d > maxL) maxL = d
                } catch { case scala.util.control.NonFatal(_) => bad = true }
              case StringKind =>
                if (minS == null || v.compareTo(minS) < 0) minS = v
                if (maxS == null || v.compareTo(maxS) > 0) maxS = v
            }
        }
      }
      if (!bad && any) out += colName -> (kind match {
        case LongKind => ColStats("long", minL.toString, maxL.toString, nulls)
        case DateKind => ColStats("date", minL.toString, maxL.toString, nulls)
        case StringKind => ColStats("string", minS, maxS, nulls)
      })
    }
    // DATA-COLUMN summaries (r18): fold the members' per-file footer
    // stats into manifest-level [min, max] — the level that makes
    // SORT-CLUSTERED layouts skip at the MANIFEST before any file is
    // listed (manifests cover contiguous ingest runs, so a clustered
    // table's manifest ranges are as tight as its file ranges; Iceberg
    // stores the same per-manifest column bounds). Conservative
    // exactly like the partition kinds: a column is stamped only when
    // EVERY member file carries stats for it under ONE tag the merge
    // understands — any gap (stat-less file, tag mix, unparseable
    // value, oversized string bound) drops the column for THIS
    // manifest, which is always read for predicates on it, never
    // wrongly skipped. nullCount sums, so IS NULL pruning stays
    // existence-exact.
    files.headOption.flatMap(_.stats).foreach { first =>
      first.keys.toSeq.sorted.foreach { c =>
        if (!kinds.contains(c)) {
          var tag: String = null
          var mn: String = null
          var mx: String = null
          var nulls = 0L
          var ok = true
          val it = files.iterator
          while (ok && it.hasNext) {
            it.next().stats.flatMap(_.get(c)) match {
              case None => ok = false
              case Some(cs) =>
                if (tag == null) tag = cs.tag
                if (cs.tag != tag) ok = false
                else try {
                  if (mn == null || cmpStored(tag, cs.min, mn) < 0) mn = cs.min
                  if (mx == null || cmpStored(tag, cs.max, mx) > 0) mx = cs.max
                  nulls += cs.nullCount
                } catch { case scala.util.control.NonFatal(_) => ok = false }
            }
          }
          // long string bounds (free-text columns) would bloat every
          // header the ref rides in — skip them; truncation would need
          // Iceberg's increment-last-char upper-bound widening to stay
          // sound, not worth it for text nobody range-filters
          if (ok && tag != null &&
              (tag != "string" || (mn.length <= 64 && mx.length <= 64)))
            out += c -> ColStats(tag, mn, mx, nulls)
        }
      }
    }
    val m = out.result()
    (if (m.isEmpty) None else Some(m), bytes, rowSum)
  }

  /** Ordering of two STORED stat strings under their tag — exact for
    * integral tags (string compare of decimal integers is wrong the
    * moment widths differ: "9" > "10"). Unknown tags throw and the
    * caller drops the column (conservative). */
  private def cmpStored(tag: String, a: String, b: String): Int = tag match {
    case "long" | "date" => java.lang.Long.compare(a.toLong, b.toLong)
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case "string" => a.compareTo(b)
    case other => throw new IllegalArgumentException(s"tag $other")
  }

  // ---- maintenance counters (r16 VERDICT task 3) ---------------------

  /** The configured small-file threshold counters are stamped against
    * (mirrors TxTable.maintainTableConfigured's fallback rules). */
  private def smallThresholdOf(props: Map[String, String]): Long =
    props.get("graft.maintain.smallFileBytes")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .filter(_ > 0).getOrElse(64L * 1024 * 1024)

  /** Deterministic key order: the O(delta) and full layout paths build
    * the map differently, and the fuzz spec holds them byte-identical. */
  private def canonCounters(m: Map[String, Long]): Map[String, Long] =
    scala.collection.immutable.SortedMap[String, Long]() ++ m

  /** Partition-value keys whose live-file CARRIER counts ride the
    * counters as `spec.<name>`: every DERIVED field of the current
    * spec and the retired history (r18 VERDICT task 2). `spec.f ==
    * totalFiles` proves every live file was laid out with a value for
    * f (derived static overwrite is well-defined); a RETIRED field at
    * `spec.f == 0` proves the history entry is vacuous and a
    * metadata-only MAINTAIN commit may clear it. Identity fields are
    * excluded — every file carries identity values whatever spec
    * wrote it. */
  private def trackedSpecNames(snapshot: Snapshot): Seq[String] =
    if (snapshot.partitionSpec.forall(_.isIdentity) &&
        snapshot.previousSpecFields.isEmpty) Nil
    else (snapshot.partitionSpec ++ snapshot.previousSpecFields)
      .filterNot(_.isIdentity).map(_.name).distinct

  /** Full recount over a RESOLVED file list (CREATE, rewrites, removed
    * files, threshold changes — paths that already walk O(files)).
    * cum* derive from the parent's counters plus this commit's delta;
    * a pre-upgrade parent contributes 0 (counters are since-upgrade). */
  private def countersFull(files: Seq[DataFile], props: Map[String, String],
      prev: Map[String, Long], addedCount: Long, removedCount: Long,
      tracked: Seq[String]): Map[String, Long] = {
    val thr = smallThresholdOf(props)
    var totalBytes = 0L; var totalRows = 0L
    var rowsKnown = true; var small = 0L
    val specCounts = new Array[Long](tracked.length)
    files.foreach { f =>
      totalBytes += f.sizeBytes
      if (f.rowCount < 0) rowsKnown = false else totalRows += f.rowCount
      if (f.sizeBytes < thr) small += 1
      var i = 0
      while (i < tracked.length) {
        if (f.partitionValues.contains(tracked(i))) specCounts(i) += 1
        i += 1
      }
    }
    val base = Map(
      "totalFiles" -> files.size.toLong,
      "totalBytes" -> totalBytes,
      "smallCount" -> small,
      "smallThreshold" -> thr,
      "cumAdded" -> (prev.getOrElse("cumAdded", 0L) + addedCount),
      "cumRemoved" -> (prev.getOrElse("cumRemoved", 0L) + removedCount)) ++
      tracked.iterator.zipWithIndex.map { case (n, i) =>
        ("spec." + n) -> specCounts(i) }
    canonCounters(
      if (rowsKnown) base + ("totalRows" -> totalRows) else base)
  }

  /** O(added) incremental stamping for the append fast paths. None
    * when the prior has no counters (pre-upgrade parent), the
    * configured threshold changed, or a tracked spec field has no
    * prior carrier count (the commit right after an evolution/upgrade
    * seeds it once from the resolved list) — callers then recount
    * from the resolved list they already hold. */
  private def countersAppend(prev: Map[String, Long], added: Seq[DataFile],
      props: Map[String, String], tracked: Seq[String])
      : Option[Map[String, Long]] = {
    if (prev.isEmpty) return None
    val thr = smallThresholdOf(props)
    if (!prev.get("smallThreshold").contains(thr)) return None
    val specKeys = tracked.map("spec." + _)
    if (specKeys.exists(k => !prev.contains(k))) return None
    var b = 0L; var r = 0L; var small = 0L
    var known = prev.contains("totalRows")
    added.foreach { f =>
      b += f.sizeBytes
      if (f.rowCount < 0) known = false else r += f.rowCount
      if (f.sizeBytes < thr) small += 1
    }
    // stale spec.* keys (history cleared by a RETIRE/rewrite commit)
    // drop here so the append and full paths stay byte-identical
    val cleaned = prev.filter { case (k, _) =>
      !k.startsWith("spec.") || specKeys.contains(k) }
    val base = (cleaned - "totalRows") ++ Map(
      "totalFiles" -> (prev.getOrElse("totalFiles", 0L) + added.size),
      "totalBytes" -> (prev.getOrElse("totalBytes", 0L) + b),
      "smallCount" -> (prev.getOrElse("smallCount", 0L) + small),
      "smallThreshold" -> thr,
      "cumAdded" -> (prev.getOrElse("cumAdded", 0L) + added.size)) ++
      tracked.iterator.map(n => ("spec." + n) ->
        (prev.getOrElse("spec." + n, 0L) +
          added.count(_.partitionValues.contains(n))))
    Some(canonCounters(
      if (known) base + ("totalRows" -> (prev.getOrElse("totalRows", 0L) + r))
      else base))
  }

  // Size-weighted bound (ADVICE r11): each LayoutState holds an
  // O(table-files) path→entry map, so an unbounded per-logDir cache in
  // a long-lived process committing to many tables accumulates head
  // states indefinitely. Shared machinery with the trusted-head cache
  // ([[BoundedWeightCache]]: lock-free gets, running total, eviction
  // only past the 1M-file-entry budget, never the entry just written);
  // a miss only costs one full-layout fallback on that table's next
  // commit.
  private val layoutCache = new BoundedWeightCache[LayoutState](
    1000000L, st => st.byPath.size.toLong)

  /** O(delta) layout for a commit that only ADDS files on top of the
    * cached head state: one verification pass over the caller's list
    * (hash lookup + equality per carried entry — the same byte-
    * identity bar the full path's manifest-reuse check applies), then
    * placement decisions replicated exactly from [[layout]]'s
    * pure-append case. Returns None on ANY deviation. */
  private def layoutAppendFast(logDir: Path, snapshot: Snapshot,
      prev: LayoutState, conf: Configuration): Option[(Snapshot, LayoutState)] = {
    val addedBuf = Vector.newBuilder[DataFile]
    val remainingBuf = Vector.newBuilder[DataFile]
    val addedPaths = new java.util.HashSet[String]()
    var existing = 0
    var added = 0
    var ok = true
    val it = snapshot.files.iterator
    while (ok && it.hasNext) {
      val f = it.next()
      prev.byPath.get(f.path) match {
        case Some(prevEntry) =>
          // reference identity first: a caller that built its list from
          // the snapshot this log served carries the SAME objects, so
          // the byte-identity verification is a pointer compare, not a
          // field-by-field walk (the O(files) carried-entry verify cost
          // the round-12 audit flagged at the 10⁶-file shape)
          if (f eq prevEntry) {
            existing += 1
            if (!prev.manifestPaths.contains(f.path)) remainingBuf += f
          } else {
            // carried file: a dropped seq re-adopts the stored one (the
            // stamping rule); anything else byte-different is a mutation
            val e =
              if (f.seq == 0L && prevEntry.seq != 0L) f.copy(seq = prevEntry.seq)
              else f
            if (e != prevEntry) ok = false
            else {
              existing += 1
              if (!prev.manifestPaths.contains(e.path)) remainingBuf += e
            }
          }
        case None =>
          val e = if (f.seq == 0L) f.copy(seq = snapshot.version) else f
          if (!addedPaths.add(e.path)) ok = false   // duplicate added path
          else {
            added += 1
            addedBuf += e
            remainingBuf += e
          }
      }
    }
    // removals (or duplicate carried paths) make the counts disagree
    if (!ok || existing != prev.byPath.size ||
        existing + added != snapshot.files.size) return None
    val addedFiles = addedBuf.result()
    val remaining = remainingBuf.result()
    Some(placeAppend(logDir, snapshot, prev, addedFiles, remaining, conf))
  }

  /** Shared tail of the append fast paths: place `remaining`
    * (carried-inline ++ added, already stamped) on top of `prev`'s
    * manifests, run tier merging + ref placement, and maintain the
    * resolved-files vector incrementally (O(delta) unless a tier merge
    * reordered the refs, which rebuilds from the manifest cache). */
  private def placeAppend(logDir: Path, snapshot: Snapshot,
      prev: LayoutState, addedFiles: Vector[DataFile],
      remaining: Vector[DataFile], conf: Configuration)
      : (Snapshot, LayoutState) = {
    val kinds = partKindsOf(snapshot)
    val (spilled, inline, manifestPaths) =
      if (remaining.size > InlineMaxFiles) {
        (prev.manifests ++
          placeManifests(logDir, snapshot.version, remaining, conf, kinds),
          Vector.empty[DataFile],
          prev.manifestPaths ++ remaining.iterator.map(_.path))
      } else (prev.manifests, remaining, prev.manifestPaths)
    // tier merging loads only the (geometrically bounded) merge set —
    // the amortized O(log files)/entry cost that replaced the all-refs
    // full rewrite; membership is unchanged by a merge
    val refs = mergeTiers(logDir, snapshot.version, spilled, conf, kinds)
    val (inlineRefs, listPath) = placeRefs(logDir, snapshot.version,
      refs, prev.manifests, prev.listPath, conf)
    // an append leaves served order = prev served order ++ added in
    // BOTH placement cases (spill moves prev-inline ++ added into the
    // appended manifest, preserving their relative order); only a tier
    // merge reorders refs and forces a rebuild (members were just
    // loaded, the merged manifest just written — all cache hits)
    val resolved =
      if (refs == spilled) prev.resolvedFiles ++ addedFiles
      else refs.iterator.flatMap(loadManifest(logDir, _, conf)).toVector ++
        inline
    val counters = countersAppend(prev.counters, addedFiles,
      snapshot.properties, trackedSpecNames(snapshot)).getOrElse(
      countersFull(resolved, snapshot.properties, prev.counters,
        addedFiles.size, 0L, trackedSpecNames(snapshot)))
    val laid = snapshot.copy(files = inline, manifests = inlineRefs,
      manifestList = listPath, added = addedFiles.map(_.path),
      carried = carriedFor(logDir, snapshot.version, refs),
      minReader = minReaderFor(refs, listPath),
      counters = counters)
    val state = LayoutState(snapshot.version,
      prev.byPath ++ addedFiles.iterator.map(e => e.path -> e),
      manifestPaths, refs, listPath, inline, resolved, counters)
    (laid, state)
  }

  /** The trusted-writer O(delta) append layout (see [[commit]]'s
    * `appendOf`): the caller proved the carried prefix is the served
    * head by reference identity, so only the ADDED files are examined —
    * duplicate-checked against the head's path map and seq-stamped.
    * Returns None when an added path already exists (caller error →
    * the full verifying path reports it the established way). */
  private def layoutAppendDelta(logDir: Path, snapshot: Snapshot,
      added: Seq[DataFile], prev: LayoutState, conf: Configuration)
      : Option[(Snapshot, LayoutState)] = {
    val addedBuf = Vector.newBuilder[DataFile]
    val seen = new java.util.HashSet[String]()
    val it = added.iterator
    while (it.hasNext) {
      val f = it.next()
      if (prev.byPath.contains(f.path) || !seen.add(f.path)) return None
      addedBuf += (if (f.seq == 0L) f.copy(seq = snapshot.version) else f)
    }
    val addedFiles = addedBuf.result()
    Some(placeAppend(logDir, snapshot, prev, addedFiles,
      prev.inline ++ addedFiles, conf))
  }

  private def layout(logDir: Path, expected: Option[Long],
      snapshot: Snapshot, conf: Configuration,
      appendOf: Option[(Snapshot, Seq[DataFile])] = None)
      : (Snapshot, LayoutState) = {
    expected.foreach { exp =>
      val cached = layoutCache.get(logDir.toString)
      if (cached != null && cached.version == exp) {
        // trusted-writer delta: the base is reference-identical to the
        // snapshot this log SERVED for `exp` (immutable, byte-known) —
        // skip the carried-entry walk entirely; examine only the added
        // files. Any mismatch falls through to the walking fast path.
        appendOf.foreach { case (base, added) =>
          val th = headTrusted.get(logDir.toString)
          if (th != null && th.version == exp && (base eq th.served) &&
              snapshot.files.size == base.files.size + added.size) {
            layoutAppendDelta(logDir, snapshot, added, cached, conf) match {
              case Some(res) => return res
              case None      => ()
            }
          }
        }
        layoutAppendFast(logDir, snapshot, cached, conf) match {
          case Some(res) => return res
          case None      => ()         // mutation/removal → full path
        }
      }
    }
    val prevRaw = expected.map(readRaw(logDir, _, conf))
    val prevManifests: Seq[(ManifestRef, Seq[DataFile])] =
      prevRaw.toSeq.flatMap(_.manifests)
        .map(r => r -> loadManifest(logDir, r, conf))
    val prevPaths: Set[String] =
      prevRaw.toSeq.flatMap(_.files.map(_.path)).toSet ++
        prevManifests.flatMap(_._2.map(_.path))
    val added = snapshot.files.map(_.path).filterNot(prevPaths)

    // Commit-sequence bookkeeping (equality deletes apply only to files
    // with seq < the delete's seq): first-appearance files are stamped
    // with THIS version; carried-forward files whose caller dropped the
    // seq (reconstructed DataFiles) re-adopt the STORED seq, so entries
    // stay byte-identical to their manifests and reuse below still
    // fires — without this, a seq-less caller would silently degrade
    // every commit to a full-manifest rewrite.
    val addedSet = added.toSet
    val storedSeq: Map[String, Long] =
      (prevRaw.toSeq.flatMap(_.files) ++ prevManifests.flatMap(_._2))
        .map(f => f.path -> f.seq).toMap
    val stamped = snapshot.files.map { f =>
      if (addedSet(f.path)) { if (f.seq == 0L) f.copy(seq = snapshot.version) else f }
      else if (f.seq == 0L) storedSeq.get(f.path).filter(_ != 0L)
        .map(sq => f.copy(seq = sq)).getOrElse(f)
      else f
    }

    // files still to place, keyed by path (insertion-ordered)
    val remaining = scala.collection.mutable.LinkedHashMap(
      stamped.map(f => f.path -> f): _*)
    val kept = scala.collection.mutable.ArrayBuffer[ManifestRef]()
    prevManifests.foreach { case (ref, mf) =>
      // reuse only if every entry survives BYTE-IDENTICAL (paths are
      // immutable so stats never change for a live path, but compare
      // whole entries to be safe against future mutation)
      if (mf.nonEmpty && mf.forall(df => remaining.get(df.path).contains(df))) {
        kept += ref
        mf.foreach(df => remaining -= df.path)
      }
    }
    val kinds = partKindsOf(snapshot)
    val (spilled, inline) =
      if (remaining.size > InlineMaxFiles) {
        (kept.toSeq ++
          placeManifests(logDir, snapshot.version, remaining.values.toSeq,
            conf, kinds),
          Nil)
      } else (kept.toSeq, remaining.values.toSeq)
    val refs = mergeTiers(logDir, snapshot.version, spilled, conf, kinds)
    val (inlineRefs, listPath) = placeRefs(logDir, snapshot.version, refs,
      prevRaw.map(_.manifests).getOrElse(Nil),
      prevRaw.flatMap(_.manifestList), conf)
    val inlinePathSet = inline.iterator.map(_.path).toSet
    // the full path already loaded/wrote every referenced manifest, so
    // the served-order resolution below is pure cache hits
    val resolved =
      refs.iterator.flatMap(loadManifest(logDir, _, conf)).toVector ++
        inline
    val prevCounters = prevRaw.map(_.counters).getOrElse(Map.empty)
    val removedCount =
      math.max(0L, prevPaths.size.toLong - (stamped.size - added.size))
    val counters = countersFull(stamped, snapshot.properties,
      prevCounters, added.size, removedCount, trackedSpecNames(snapshot))
    val state = LayoutState(snapshot.version,
      stamped.iterator.map(f => f.path -> f).toMap,
      stamped.iterator.map(_.path).filterNot(inlinePathSet).toSet,
      refs, listPath, inline.toVector, resolved, counters)
    (snapshot.copy(files = inline, manifests = inlineRefs,
      manifestList = listPath, added = added,
      carried = carriedFor(logDir, snapshot.version, refs),
      minReader = minReaderFor(refs, listPath),
      counters = counters), state)
  }

  /** The content this header must carry: the just-placed `hdr:v<self>`
    * spill — UNLESS the tier merge that ran in the same layout already
    * folded it into a manifest file (then nothing references it and
    * carrying it would be pure header bytes). */
  private def carriedFor(logDir: Path, version: Long,
      refs: Seq[ManifestRef]): Option[Seq[DataFile]] =
    if (refs.exists(_.path.startsWith(s"hdr:v$version-")))
      pendingCarried.get.get((logDir.toString, version))
    else None

  /** Smallest reader format a header with these refs needs: any
    * header-carried manifest ref anywhere in the list forces 3 (a v2
    * reader would open `hdr:v<N>` as a file path); a spilled ref list
    * forces 2; else 1. */
  private def minReaderFor(refs: Seq[ManifestRef],
      listPath: Option[String]): Int =
    if (refs.exists(_.path.startsWith("hdr:"))) 3
    else if (listPath.isDefined) 2
    else 1

  /** Test/deployment seam: when set, every commit publishes through
    * this protocol instead of the scheme-selected default. */
  @volatile private[graft] var protocolOverride: Option[CommitProtocol] = None

  /** The protocol that publishes `p` on `f`: chosen by the path's
    * scheme, else the file system's. */
  private[graft] def protocolFor(f: FileSystem, p: Path): CommitProtocol =
    protocolOverride.getOrElse {
      val scheme = Option(p.toUri.getScheme)
        .getOrElse(Option(f.getUri).map(_.getScheme).getOrElse("file"))
      if (scheme == "file") LocalAtomicRenameProtocol else FsCreateProtocol
    }
}

/**
 * The PUT-IF-ABSENT primitive the whole transaction log rests on: the
 * version-slot CAS. Everything above this seam (retry loops, conflict
 * semantics, manifest layout) is storage-agnostic; everything a real
 * object store needs differently lives below it. The reference's
 * actual primitive is a service-side versionToken CAS
 * (`kfs/scripts/update_metadata.py:135-141` — S3 Tables
 * UpdateTableMetadataLocation with an expected token); a plain local
 * rename does not exist on S3, so deployments there plug a
 * conditional-PUT (If-None-Match) or catalog-CAS implementation here
 * without touching the log. Implementations MUST throw
 * [[CommitConflictException]] — and nothing else — when the slot is
 * already taken, and must never leave a partially-readable object at
 * `target`.
 */
/**
 * Size-weighted bounded cache with LOCK-FREE reads — the shape both
 * per-logDir head caches need ([[TxLog]]'s trusted heads and layout
 * states): values can be O(table-files) large, so the TOTAL weight is
 * bounded, but the get path is the engine's hottest metadata read and
 * must never serialize unrelated tables behind one mutex (the
 * LinkedHashMap-LRU shape did exactly that, and re-summed every
 * entry's weight under the lock on every put).
 *
 *  - `get` is a plain ConcurrentHashMap read plus one volatile stamp
 *    write (approximate LRU via a logical clock — no wall time);
 *  - `put` maintains a RUNNING total (O(1) when under budget; entries
 *    weigh max(1, weigh(v)) so zero-weight values still count and the
 *    entry COUNT stays bounded too);
 *  - eviction runs only when the budget trips, single-threaded,
 *    dropping least-recently-STAMPED entries but never the one just
 *    written. Eviction is an optimization-cache miss for the owner,
 *    never a correctness event.
 */
private[table] final class BoundedWeightCache[V <: AnyRef](
    maxWeight: Long, weigh: V => Long) {

  private final class Entry(val v: V, val w: Long) {
    @volatile var used: Long = 0L
  }
  private val tick = new java.util.concurrent.atomic.AtomicLong()
  private val m = new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  private val total = new java.util.concurrent.atomic.AtomicLong()

  def get(k: String): V = {
    val e = m.get(k)
    if (e == null) null.asInstanceOf[V]
    else { e.used = tick.incrementAndGet(); e.v }
  }

  def put(k: String, v: V): Unit = {
    val e = new Entry(v, math.max(1L, weigh(v)))
    e.used = tick.incrementAndGet()
    val old = m.put(k, e)
    total.addAndGet(e.w - (if (old == null) 0L else old.w))
    if (total.get() > maxWeight) evict(keep = k)
  }

  /** Compare-and-put: install `v` only when the slot is empty or
    * `replaces(existing)` holds. Two in-process writers can finish
    * their (CAS-serialized) commits OUT OF ORDER — an unconditional put
    * would then regress the slot to the older head/layout and serve a
    * stale version with zero probes until the next commit self-heals
    * (ADVICE r13). The compute closure runs under the map's per-bin
    * lock, so the version comparison and the install are one atom. */
  def putIfReplaces(k: String, v: V, replaces: V => Boolean): Unit = {
    val e = new Entry(v, math.max(1L, weigh(v)))
    e.used = tick.incrementAndGet()
    var delta = 0L
    var installed = false
    m.compute(k, (_, old) =>
      if (old == null) { delta = e.w; installed = true; e }
      else if (replaces(old.v)) { delta = e.w - old.w; installed = true; e }
      else old)
    if (installed) {
      total.addAndGet(delta)
      if (total.get() > maxWeight) evict(keep = k)
    }
  }

  def remove(k: String): Unit = {
    val old = m.remove(k)
    if (old != null) total.addAndGet(-old.w)
  }

  def removeIf(p: String => Boolean): Unit = {
    val it = m.keySet().iterator()
    while (it.hasNext) { val k = it.next(); if (p(k)) remove(k) }
  }

  private def evict(keep: String): Unit = synchronized {
    while (total.get() > maxWeight && m.size() > 1) {
      var oldestK: String = null
      var oldestUsed = Long.MaxValue
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey != keep && e.getValue.used < oldestUsed) {
          oldestUsed = e.getValue.used
          oldestK = e.getKey
        }
      }
      if (oldestK == null) return
      remove(oldestK)
    }
  }
}

trait CommitProtocol {
  def putIfAbsent(f: FileSystem, target: Path, content: Array[Byte],
      next: Long, expected: Option[Long]): Unit
}

/**
 * file: scheme — Hadoop's RawLocalFileSystem implements
 * create(overwrite=false) as a NON-atomic exists-check-then-create, so
 * two racing committers could both "win" and one snapshot would
 * silently overwrite the other. Use java.nio instead: content is first
 * written to a hidden temp file, the version slot is reserved with
 * Files.createFile (O_EXCL — kernel-atomic create-if-absent, losers
 * get FileAlreadyExistsException), then the full content is published
 * onto the reserved name with an ATOMIC_MOVE rename so readers never
 * observe a partially-written snapshot (read() retries the brief
 * empty-reservation window).
 */
object LocalAtomicRenameProtocol extends CommitProtocol {
  override def putIfAbsent(f: FileSystem, target: Path, content: Array[Byte],
      next: Long, expected: Option[Long]): Unit = {
    import java.nio.file.{Files, Paths => JPaths, StandardCopyOption}
    val targetNio = JPaths.get(target.toUri.getPath)
    val tmp = targetNio.resolveSibling(
      s".${targetNio.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, content)
    try {
      try Files.createFile(targetNio)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new CommitConflictException(
            s"version $next already committed (stale expected=$expected)")
      }
      Files.move(tmp, targetNio,
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }
}

/** Non-local schemes: HDFS create(overwrite=false) is atomic on the
  * NameNode; S3-compatible stores map it to a conditional PUT
  * (If-None-Match). Only an actual already-exists outcome is a CAS
  * conflict; other IOExceptions (disk full, permissions, transient
  * store failure) must surface as-is. */
object FsCreateProtocol extends CommitProtocol {
  override def putIfAbsent(f: FileSystem, target: Path, content: Array[Byte],
      next: Long, expected: Option[Long]): Unit = {
    val out =
      try f.create(target, /*overwrite=*/ false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException =>
          throw new CommitConflictException(
            s"version $next already committed (stale expected=$expected)")
        case e: java.io.IOException if f.exists(target) =>
          throw new CommitConflictException(
            s"version $next already committed (stale expected=$expected): ${e.getMessage}")
      }
    try out.write(content)
    finally out.close()
  }
}
