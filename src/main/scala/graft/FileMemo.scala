package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types.StructType

/** The one memo of facts derived from files that never change under one
  * identity: committed manifests, `_SUCCESS`-gated artifacts, testdata
  * tables and write-once snapshot files. An entry is keyed by its kind,
  * the [[FileMemo.FileId]]s it was derived from and a kind-specific
  * `extra`; a file rewritten in place gets a new length or mtime, hence
  * a new key, so a lookup never serves what the old bytes held.
  *
  * One access-ordered LRU, weighted in bytes per kind and trimmed, per
  * kind, to the cap its caller passes. Loads run outside the lock, so a
  * slow load (a Spark job) blocks no other lookup; two concurrent misses
  * may both load, and the last store wins. A load that throws, or yields
  * None, stores nothing. A lookup can carry a validity check, run outside
  * the lock: a hit that fails it is loaded again once, and a loaded value
  * that fails it is stored but not returned. Each kind counts hits,
  * misses, evictions (cap-driven), entries and bytes. */
private[graft] class FileMemo {
  import FileMemo._

  private final class Entry(val value: Any, val bytes: Long)
  private final class Counts { var hits, misses, evictions, entries, bytes = 0L }

  private val lru = new java.util.LinkedHashMap[(Kind[_], Seq[FileId], Any), Entry](16, 0.75f, true)
  private val counts = new java.util.HashMap[Kind[_], Counts]()

  private def of(kind: Kind[_]): Counts = counts.computeIfAbsent(kind, _ => new Counts)

  /** The value under (`kind`, `files`, `extra`) if one is held and
    * passes `valid`, else `load`'s, stored when it is defined and weighs
    * at most `cap` bytes, and returned only if it passes `valid`. */
  def get[V](kind: Kind[V], files: Seq[FileId], extra: Any = (), cap: Long = MetaBytes,
      valid: V => Boolean = (_: V) => true)(load: => Option[V]): Option[V] = {
    val key = (kind, files, extra)
    val hit = synchronized {
      trim(kind, cap)
      Option(lru.get(key)).map(_.value.asInstanceOf[V])
    }.filter(valid)
    synchronized(if (hit.isDefined) of(kind).hits += 1 else of(kind).misses += 1)
    hit.orElse {
      val v = load
      for (x <- v; bytes = kind.weigh(files, x) if bytes <= cap) synchronized {
        val c = of(kind)
        val replaced = Option(lru.put(key, new Entry(x, bytes)))
        c.entries += 1 - replaced.size
        c.bytes += bytes - replaced.fold(0L)(_.bytes)
        trim(kind, cap)
      }
      v.filter(valid)
    }
  }

  /** [[get]] for a frame-derived value: keyed by `df`'s analyzed plan
    * (its semantic hash), `tag` and the identity of every input file as
    * it is now (one `getFileStatus` each), so an input rewritten in place
    * under the same plan loads again. */
  def ofInputs[V](kind: Kind[V], df: DataFrame, tag: String)(load: => V): V = {
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val ids = df.inputFiles.toSeq.sorted.map(new Path(_)).flatMap(p => fileId(p.getFileSystem(hconf), p))
    get(kind, ids, (tag, df.queryExecution.analyzed.semanticHash()))(Some(load)).get
  }

  /** Evicts `kind`'s least-recently-used entries until they fit `cap`. */
  private def trim(kind: Kind[_], cap: Long): Unit = {
    val c = of(kind)
    val it = lru.entrySet().iterator()
    while (c.bytes > cap && it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq kind) {
        it.remove()
        c.entries -= 1
        c.bytes -= e.getValue.bytes
        c.evictions += 1
      }
    }
  }

  /** Evicts every entry of `kind`. */
  def clear(kind: Kind[_]): Unit = synchronized(trim(kind, -1L))

  /** `kind`'s counters now. */
  def stats(kind: Kind[_]): Stats = synchronized {
    val c = of(kind)
    Stats(c.hits, c.misses, c.evictions, c.entries, c.bytes)
  }
}

/** The process-wide memo and its kinds. */
private[graft] object FileMemo extends FileMemo {
  /** A file's identity: a file with the same path, length and
    * modification time holds the same bytes. */
  final case class FileId(path: String, length: Long, mtime: Long)

  /** `path`'s identity now, or None when it cannot be read. */
  def fileId(fs: FileSystem, path: Path): Option[FileId] =
    scala.util.Try(fs.getFileStatus(path)).toOption
      .map(st => FileId(path.toString, st.getLen, st.getModificationTime))

  /** A kind of entry and its weight in bytes, from the key's files and
    * the value. */
  final class Kind[-V](val name: String, val weigh: (Seq[FileId], V) => Long)

  final case class Stats(hits: Long, misses: Long, evictions: Long, entries: Long, bytes: Long) {
    def -(o: Stats): Stats =
      Stats(hits - o.hits, misses - o.misses, evictions - o.evictions, entries - o.entries,
        bytes - o.bytes)
  }

  /** The cap of each metadata kind; the rows kind is capped by the
    * session's broadcast threshold instead. */
  val MetaBytes: Long = 16L << 20

  /** A snapshot scan's rows (extra: the scan's schema and options). */
  val Rows = new Kind[Array[InternalRow]]("rows",
    (_, rows) => rows.iterator.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum)
  /** A committed manifest's parse, weighed by the manifest's length. */
  val Manifest = new Kind[Any]("manifest", (files, _) => files.map(_.length).sum)
  /** A parquet path's inferred schema (extra: the path). */
  val Schema = new Kind[StructType]("schema", (_, s) => s.json.length.toLong)
  /** A content fingerprint of a frame's inputs. */
  val Fingerprint = new Kind[Long]("fingerprint", (_, _) => 8L)
  /** A bloom bitset built over a frame's inputs. */
  val Bloom = new Kind[Array[Byte]]("bloom", (_, bits) => bits.length.toLong)

  val kinds: Seq[Kind[Nothing]] = Seq(Rows, Manifest, Schema, Fingerprint, Bloom)
}
