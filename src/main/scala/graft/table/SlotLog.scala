package graft.table

import org.apache.hadoop.fs.{FileSystem, Path}

import scala.util.control.NonFatal

/**
 * A numbered log of immutable slot files, `<prefix>-<seq>.json` under
 * `dir`: the one publish primitive for table state kept outside the
 * transaction log (vector-index meta, maintenance leases, Bloom
 * sidecar parts, tags, ANALYZE stats). A slot is written once, through
 * the same [[CommitProtocol]] put-if-absent as a log version, so of two
 * writers that put the same seq exactly one wins; nothing is ever
 * overwritten in place.
 *
 * The newest slot that parses is the live one. A writer puts one past
 * the highest LISTED slot, parsed or not, so a torn slot (the empty
 * reservation a writer that died mid-put leaves) is stepped over, and
 * never wedges the log.
 */
final class SlotLog(fs: FileSystem, dir: Path, prefix: String) {
  import SlotLog.{Latest, Slot}

  private val SlotRe = (java.util.regex.Pattern.quote(prefix) +
    raw"-(\d{9})\.json").r

  /** Every slot, oldest first. */
  def slots: Seq[Slot] =
    (try fs.listStatus(dir).toSeq
     catch { case _: java.io.FileNotFoundException => Nil })
      .flatMap(st => st.getPath.getName match {
        case SlotRe(seq) if st.isFile =>
          Some(Slot(seq.toLong, st.getPath, st.getModificationTime))
        case _ => None
      }).sortBy(_.seq)

  /** The seq a writer that listed `listed` puts next. */
  def next(listed: Seq[Slot] = slots): Long =
    listed.lastOption.fold(0L)(_.seq + 1)

  /** A slot's bytes; None once it is gone. */
  def read(slot: Slot): Option[Array[Byte]] = SlotLog.readBytes(fs, slot.path)

  /** A slot's value; None when it is gone, empty or does not parse. */
  def parsed[A](slot: Slot, parse: Array[Byte] => A): Option[A] =
    try read(slot).filter(_.nonEmpty).map(parse)
    catch { case NonFatal(_) => None }

  /** The newest slot of `listed` that parses, and the seq to put next.
    * A newest slot that does not parse is either a put still in flight
    * or a torn slot; readers fall back past it. A writer that plans its
    * put from what it read passes `settle`: an in-flight put's content
    * lands within milliseconds, and planning from its predecessor would
    * drop that put's update, so the newest slot is re-read for up to
    * half a second before it counts as torn. */
  def latest[A](parse: Array[Byte] => A, listed: Seq[Slot] = slots,
      settle: Boolean = false): Latest[A] = {
    def settled(s: Slot, waits: Int): Option[A] = parsed(s, parse) match {
      case None if waits > 0 && fs.exists(s.path) =>
        Thread.sleep(10); settled(s, waits - 1)
      case v => v
    }
    val found = listed.reverseIterator.zipWithIndex.flatMap { case (s, i) =>
      val v = if (settle && i == 0) settled(s, 50) else parsed(s, parse)
      v.map(s.seq -> _)
    }.nextOption()
    Latest(found.fold(-1L)(_._1), found.map(_._2), next(listed))
  }

  /** Put `bytes` at slot `seq`; false when another writer holds it. */
  def put(seq: Long, bytes: Array[Byte]): Boolean = {
    fs.mkdirs(dir)
    val target = new Path(dir, f"$prefix-$seq%09d.json")
    try {
      TxLog.protocolFor(fs, target).putIfAbsent(fs, target, bytes, seq, None)
      true
    } catch { case _: CommitConflictException => false }
  }

  /** Delete the slots below `below`, best-effort: a reader that lost
    * the race falls back or retries, and a crash leaves only garbage
    * for the next reap. */
  def reap(below: Long): Unit =
    try slots.foreach(s => if (s.seq < below) fs.delete(s.path, false))
    catch { case NonFatal(_) => () }
}

object SlotLog {
  final case class Slot(seq: Long, path: Path, mtime: Long)

  /** What [[SlotLog.latest]] found: the newest slot that parses (seq -1
    * and no value when none does) and the seq to put next. */
  final case class Latest[A](seq: Long, value: Option[A], next: Long)

  /** A whole file's bytes; None when it does not exist. */
  def readBytes(fs: FileSystem, p: Path): Option[Array[Byte]] =
    try {
      val in = fs.open(p)
      try Some(org.apache.commons.io.IOUtils.toByteArray(in))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
}
