package graft.table

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/**
 * Deployment-shaped diagnostic FileSystem: every metadata round-trip
 * (status/exists probe, open, create, list, delete, rename, mkdirs)
 * counts into a per-category ledger and optionally sleeps a configured
 * latency before the local operation — approximating an object
 * store's per-request cost so the commit protocol's round-trip budget
 * is MEASURABLE offline (round-11 VERDICT task 4). The reference's
 * real store pays two round-trips per metadata commit — GetTable for
 * the version token, then the conditional
 * UpdateTableMetadataLocation (`kinesis-firehose-stream/scripts/
 * update_metadata.py:64-70,135-141`); `Bench.commitLag` records how
 * many this log pays and that commit throughput is bounded by
 * round-trips × latency, i.e. the protocol serializes no avoidable
 * filesystem operations.
 *
 * Ledger fidelity (r13): ONE logical FileSystem call = ONE request.
 * RawLocalFileSystem implements some calls in terms of others (e.g.
 * create(overwrite=false) probes exists() internally; a real store's
 * conditional PUT is a single request) — nested calls inside a counted
 * operation are therefore suppressed. Conversely exists() itself is
 * now counted: RawLocalFileSystem answers it straight from
 * File.exists, bypassing getFileStatus, so earlier rounds' ledgers
 * MISSED every forward probe (a HEAD request on a real store).
 *
 * Register with `fs.lagfs.impl = graft.table.LagFs` and use
 * `lagfs:/abs/path` paths; set [[LagFs.lagMs]] for the injected
 * latency (0 = count only).
 */
class LagFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "lagfs"
  override def getUri: java.net.URI = java.net.URI.create("lagfs:///")

  override def getFileStatus(f: Path): FileStatus = {
    LagFs.hit("status"); LagFs.nested(super.getFileStatus(f))
  }
  override def exists(f: Path): Boolean = {
    LagFs.hit("status"); LagFs.nested(super.exists(f))
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    LagFs.hit("open"); LagFs.nested(super.open(f, bufferSize))
  }
  // RawLocalFileSystem funnels its create paths through THIS overload
  // (the FsPermission variant delegates here then chmods) — counting
  // only it avoids double-counting a single logical PUT
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    LagFs.hit("create")
    LagFs.nested(
      super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    LagFs.hit("list", Some(f)); LagFs.nested(super.listStatus(f))
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    LagFs.hit("delete"); LagFs.nested(super.delete(f, recursive))
  }
  override def rename(src: Path, dst: Path): Boolean = {
    LagFs.hit("rename"); LagFs.nested(super.rename(src, dst))
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    LagFs.hit("mkdirs"); LagFs.nested(super.mkdirs(f, permission))
  }
}

object LagFs {
  /** Injected per-operation latency; 0 = count only. */
  @volatile var lagMs: Long = 0L

  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()

  /** True while inside a counted operation on this thread — nested
    * FileSystem calls RawLocalFileSystem makes internally are
    * implementation detail, not extra store requests. */
  private val inOp = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  private[table] def nested[T](body: => T): T = {
    val prev = inOp.get
    inOp.set(java.lang.Boolean.TRUE)
    try body finally inOp.set(prev)
  }

  /** COUNTED list targets (nested-suppressed like the counts): lets a
    * spec pin WHICH directories an operation lists — call-count alone
    * cannot distinguish one list of a 10⁵-entry log dir from one list
    * of a 1-slot scoped dir (the r17 lease-acquisition fix). */
  private val listedBuf =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def listedPaths: Seq[String] = {
    val b = Seq.newBuilder[String]
    listedBuf.forEach(p => b += p)
    b.result()
  }

  private[table] def hit(cat: String, target: Option[Path] = None): Unit = {
    if (inOp.get.booleanValue()) return
    counts.computeIfAbsent(cat,
      _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
    target.foreach(p => listedBuf.add(p.toString))
    val lag = lagMs
    if (lag > 0) Thread.sleep(lag)
  }

  def reset(): Unit = { counts.clear(); listedBuf.clear() }

  def snapshot: Map[String, Long] = {
    val it = counts.entrySet().iterator()
    val b = Map.newBuilder[String, Long]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.get }
    b.result()
  }

  def total: Long = snapshot.values.sum
}
