package graft

import graft.FileMemo.{FileId, Kind}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.util.{Failure, Success, Try}

/** [[FileMemo]] against a model of its files, with no SparkSession: seeded
  * sequences of lookups (some with a throwing load), in-place rewrites
  * (a new length or mtime under the same path) and validity failures (a
  * held value goes stale while its file's identity stays the same), over
  * two kinds with different byte caps. After every step:
  *
  *  - a lookup returns the value of the file as it is now, never one
  *    loaded under an older length, mtime or validity epoch;
  *  - each kind's bytes stay within its cap;
  *  - a throwing load stores nothing: the next lookup of its key loads;
  *  - a value just loaded within its cap is served by the next lookup;
  *  - a load runs exactly on a miss, and hits + misses equals the
  *    number of lookups, per kind. */
class FileMemoProps extends AnyFunSuite {
  import FileMemoProps._

  test("lookup/rewrite/invalidate/throwing-load sequences agree with the model (seeded)") {
    val prop = Prop.forAll(Gen.listOf(step))(agrees)
    val res = Test.check(Test.Parameters.default.withInitialSeed(Seed(20261020L))
      .withMinSuccessfulTests(300).withMaxSize(120), prop)
    assert(res.passed, res.status.toString)
  }
}

object FileMemoProps {
  /** A loaded value: the kind, file identity and validity epoch it was
    * loaded under, and its weight. */
  final case class Value(kind: Int, id: FileId, epoch: Int, bytes: Long)

  private val caps = IndexedSeq(120L, 60L)
  private val kinds = caps.indices.map(i => new Kind[Value](s"k$i", (_, v) => v.bytes))
  private val paths = IndexedSeq("a", "b", "c", "d")

  sealed trait Step
  final case class Lookup(kind: Int, path: Int, throwing: Boolean) extends Step
  /** An in-place rewrite: a new length, or the same length and a new mtime. */
  final case class Rewrite(path: Int, newLength: Boolean) extends Step
  /** The file's held values go stale under an unchanged identity. */
  final case class Invalidate(path: Int) extends Step

  private val path = Gen.choose(0, paths.size - 1)
  val step: Gen[Step] = Gen.frequency(
    6 -> (for (k <- Gen.choose(0, kinds.size - 1); p <- path;
      t <- Gen.frequency(5 -> false, 1 -> true)) yield Lookup(k, p, t)),
    2 -> (for (p <- path; l <- Gen.oneOf(true, false)) yield Rewrite(p, l)),
    1 -> path.map(Invalidate(_)))

  /** 1 to 70 bytes, so some values of the 60-byte kind never fit. */
  private def weight(kind: Int, id: FileId): Long =
    math.floorMod((id.path, id.length, id.mtime, kind).hashCode, 70) + 1L

  def agrees(steps: List[Step]): Prop = {
    val memo = new FileMemo
    val ids = Array.tabulate(paths.size)(i => FileId(paths(i), 100L, 1L))
    val epochs = Array.fill(paths.size)(0)
    val lookups = Array.fill(kinds.size)(0L)
    var fails = Vector.empty[String]
    def check(ok: Boolean, msg: => String): Unit = if (!ok) fails :+= msg

    /** One lookup; (result, whether it loaded, stats before, stats after). */
    def lookup(k: Int, p: Int, throwing: Boolean) = {
      val fresh = Value(k, ids(p), epochs(p), weight(k, ids(p)))
      var loads = 0
      val before = memo.stats(kinds(k))
      val got = Try(memo.get(kinds(k), Seq(ids(p)), cap = caps(k),
        valid = (v: Value) => v.epoch == epochs(p)) {
        loads += 1
        if (throwing) throw new IllegalStateException("load failed") else Some(fresh)
      })
      lookups(k) += 1
      val after = memo.stats(kinds(k))
      val missed = after.misses - before.misses
      check(loads == missed && missed + after.hits - before.hits == 1,
        s"lookup $k/$p: $loads loads, stats $before -> $after")
      (got, fresh, loads == 1, before, after)
    }

    steps.foreach { s =>
      s match {
        case Rewrite(p, newLength) =>
          ids(p) = if (newLength) ids(p).copy(length = ids(p).length + 1)
            else ids(p).copy(mtime = ids(p).mtime + 1)
        case Invalidate(p) => epochs(p) += 1
        case Lookup(k, p, throwing) =>
          val (got, fresh, loaded, before, after) = lookup(k, p, throwing)
          got match {
            case Success(v) =>
              check(v.contains(fresh), s"$s returned $v, the file now holds $fresh")
              if (loaded && fresh.bytes <= caps(k))
                check(!lookup(k, p, throwing = true)._3, s"$s: a value just stored was not held")
            case Failure(_) =>
              check(throwing && loaded && after.entries <= before.entries &&
                after.bytes <= before.bytes, s"$s threw: stats $before -> $after")
              check(lookup(k, p, throwing = false)._3, s"$s: a throwing load stored a value")
          }
      }
      kinds.indices.foreach { k =>
        val st = memo.stats(kinds(k))
        check(st.bytes >= 0 && st.bytes <= caps(k) && st.entries >= 0,
          s"after $s kind $k holds ${st.entries} entries, ${st.bytes} bytes (cap ${caps(k)})")
        check(st.hits + st.misses == lookups(k),
          s"after $s kind $k counts ${st.hits} + ${st.misses} for ${lookups(k)} lookups")
      }
    }
    Prop(fails.isEmpty) :| fails.mkString("\n")
  }
}
