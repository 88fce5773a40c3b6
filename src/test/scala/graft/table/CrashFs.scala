package graft.table

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import java.util.concurrent.atomic.AtomicLong

/**
 * Crash-point injection for write-path sweeps: scheme `crashfs`, backed
 * by the local disk. Every mutating call (create, rename, delete,
 * mkdirs) counts; once armed at N, the Nth call and every one after it
 * fail — the first N-1 land and nothing after does, the trace of a
 * process that died at that point. Reads always work, so the table can
 * be reopened and checked afterwards.
 *
 * Register with `fs.crashfs.impl = graft.table.CrashFs` and use
 * `crashfs:/abs/path` paths.
 */
class CrashFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "crashfs"
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")

  // RawLocalFileSystem funnels its create paths through this overload
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CrashFs.step("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.step("rename", dst); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CrashFs.step("delete", f); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CrashFs.step("mkdirs", f); super.mkdirs(f, permission)
  }
}

object CrashFs {
  private val calls = new AtomicLong()
  @volatile private var crashAt = Long.MaxValue

  /** Zero the counter; fail from the `n`th mutating call on
    * (the default never fails). */
  def reset(n: Long = Long.MaxValue): Unit = { calls.set(0); crashAt = n }

  /** Mutating calls since the last [[reset]]. */
  def count: Long = calls.get

  private def step(op: String, p: Path): Unit = {
    val n = calls.incrementAndGet()
    if (n >= crashAt)
      throw new java.io.IOException(s"crashfs: crashed at call $n ($op $p)")
  }
}
