package graft.storage

import graft.core.{LabelsJson, MatcherCompiler}
import graft.model.Matcher
import java.util.concurrent.locks.ReentrantReadWriteLock
import scala.collection.mutable

/** The driver-resident series index — the reference's in-RAM label map
  * (clickhouse.go:51-53, 146-204), answered without a Spark job:
  *
  *  - `labels`: fingerprint → canonical labels JSON, one entry per series
  *    (the first sighting wins: racing writers may append a series twice);
  *  - `postings`: label name → label value → the fingerprints carrying that
  *    pair. A series holds one value per name, so the lists of one name are
  *    disjoint.
  *
  * Matchers evaluate per DISTINCT label value, not per series: each value
  * predicate is compiled once ([[MatcherCompiler.valuePredicate]]) and
  * applied to the keys of the matcher's posting map. A missing label reads
  * as `""` (base.go:90-138): when a matcher accepts `""`, its answer is
  * "every series except those whose value it rejects", otherwise "the
  * series whose value it accepts" — absent labels then need no posting of
  * their own.
  *
  * Grows only; a full reload builds a new instance. Reads share a read
  * lock, adds take the write lock. */
private[graft] final class LabelIndex {
  private val lock = new ReentrantReadWriteLock()
  private val labels = mutable.LongMap.empty[String]
  private val postings = mutable.HashMap.empty[String, mutable.HashMap[String, LabelIndex.LongBuf]]

  private def reading[T](f: => T): T = {
    lock.readLock().lock()
    try f finally lock.readLock().unlock()
  }

  def size: Int = reading(labels.size)

  def contains(fp: Long): Boolean = reading(labels.contains(fp))

  /** Index the series not indexed yet. */
  def add(series: Iterable[(Long, String)]): Unit = {
    lock.writeLock().lock()
    try series.foreach { case (fp, json) =>
      if (!labels.contains(fp)) {
        labels.update(fp, json)
        LabelsJson.unmarshal(json).foreach { case (n, v) =>
          postings.getOrElseUpdate(n, mutable.HashMap.empty)
            .getOrElseUpdate(v, new LabelIndex.LongBuf) += fp
        }
      }
    } finally lock.writeLock().unlock()
  }

  /** Every indexed series as (fingerprint, labels JSON). */
  def all: Array[(Long, String)] = reading(labels.toArray)

  /** The series matching every matcher (an empty list matches all). */
  def select(matchers: Seq[Matcher]): Array[(Long, String)] = {
    val preds = matchers.map(m => (m.name, MatcherCompiler.valuePredicate(m)))
    reading {
      val includes = mutable.ArrayBuffer.empty[Array[Long]]
      val excluded = mutable.LongMap.empty[Unit]
      preds.foreach { case (name, p) =>
        val values = postings.getOrElse(name, mutable.HashMap.empty[String, LabelIndex.LongBuf])
        if (p("")) values.foreach { case (v, fps) => if (!p(v)) fps.foreach(excluded.update(_, ())) }
        else {
          val hit = new mutable.ArrayBuilder.ofLong
          values.foreach { case (v, fps) => if (p(v)) fps.foreach(hit += _) }
          includes += hit.result()
        }
      }
      val candidates =
        if (includes.isEmpty) labels.keysIterator.toArray
        else includes.sortBy(_.length).reduceLeft { (acc, next) =>
          val keep = mutable.LongMap.empty[Unit]
          next.foreach(keep.update(_, ()))
          acc.filter(keep.contains)
        }
      candidates.iterator.filterNot(excluded.contains).map(fp => (fp, labels(fp))).toArray
    }
  }
}

private[graft] object LabelIndex {
  /** Append-only growable list of longs — a posting list without boxing. */
  final class LongBuf {
    private var buf = new Array[Long](4)
    private var n = 0
    def +=(x: Long): Unit = {
      if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
      buf(n) = x
      n += 1
    }
    def foreach(f: Long => Unit): Unit = { var i = 0; while (i < n) { f(buf(i)); i += 1 } }
  }
}
