package graft.table

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * A service-side conditional-PUT [[CommitProtocol]] (the shape of an
 * object store's If-None-Match PUT or a catalog CAS): an atomic
 * registry of claimed slot names decides winners, and storage is a
 * plain non-atomic overwrite. A test can claim a slot in `slots` to
 * play another process that took it but whose content is not visible
 * yet. Install with `TxLog.protocolOverride = Some(mock)`.
 */
class ConditionalPutMock extends CommitProtocol {
  val slots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val puts = new java.util.concurrent.atomic.AtomicInteger(0)

  override def putIfAbsent(f: FileSystem, target: Path, content: Array[Byte],
      next: Long, expected: Option[Long]): Unit = {
    if (f.exists(target) || !slots.add(target.toString))
      throw new CommitConflictException(
        s"slot $target taken (stale expected=$expected)")
    val out = f.create(target, true)
    try out.write(content) finally out.close()
    puts.incrementAndGet()
  }
}
