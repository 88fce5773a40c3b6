package graft.table

import org.apache.hadoop.fs.{FSDataOutputStream, FileUtil, Path}
import org.apache.hadoop.util.Progressable

/**
 * An object-store-SHAPED Hadoop FileSystem for end-to-end tests:
 * scheme `s3mock`, backed by the local disk, with the two S3 contract
 * differences that matter to a transaction log enforced —
 *
 *  - `rename()` is NON-ATOMIC copy-then-delete (the S3 shape), and
 *    every rename is recorded so specs can assert the LOG's commit
 *    path never relies on one (data-file moves may: staged files are
 *    invisible until a committed snapshot references them, and the
 *    commit-index chunks a reader might catch mid-copy are a
 *    best-effort cache whose reader falls back to headers on any
 *    parse failure);
 *  - `append()` is unsupported (S3 objects are immutable).
 *
 * Every create is recorded too, so specs can assert where files were
 * written.
 *
 * `create(overwrite=false)` stands in for the service-side conditional
 * PUT (`If-None-Match`) that [[TxLog.FsCreateProtocol]] expects on
 * non-`file:` schemes — the same primitive the reference's
 * `UpdateTableMetadataLocation` token CAS provides
 * (kfs/scripts/update_metadata.py:135-141).
 */
class MockS3FileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "s3mock"
  override def getUri: java.net.URI = java.net.URI.create("s3mock:///")

  override def rename(src: Path, dst: Path): Boolean = {
    MockS3FileSystem.renames.add(s"$src -> $dst")
    if (!exists(src)) false
    else FileUtil.copy(this, src, this, dst,
      /*deleteSource=*/ false, /*overwrite=*/ true, getConf) &&
      delete(src, true)
  }

  // RawLocalFileSystem funnels its create paths through this overload
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    MockS3FileSystem.creates.add(f.toString)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException(
      "s3mock: append is not supported (objects are immutable)")
}

object MockS3FileSystem {
  /** Every rename routed through the mock, as "src -> dst" strings. */
  val renames = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Every path created through the mock. */
  val creates = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
