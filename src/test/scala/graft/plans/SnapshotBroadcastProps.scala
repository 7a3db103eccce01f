package graft.plans

import graft.SparkSuite
import graft.queries.LibraryReports
import graft.queries.LibraryReports.Params

import scala.util.Random

/** Seeded property test of the job-free dimension broadcasts
  * ([[SnapshotBroadcast]]): for random year windows, gender filters,
  * state lists and `topN`, `LibraryReports` q1 and q3 over a store-backed
  * star (dimensions broadcast from memoized snapshot rows, filtered on
  * the driver) return exactly the rows of the same reports over the same
  * dimensions as plain parquet (Spark's own broadcast exchange). */
class SnapshotBroadcastProps extends SparkSuite {
  import SnapshotBroadcastSpec.{Star, buildSides}

  for (seed <- Seq(17L, 23L)) {
    test(s"seed $seed: store-backed q1/q3 equal the same reports over plain dimensions") {
      val star = Star.build(spark, seed)
      val plain = star.plainDw(2004, 2024)
      val rnd = new Random(seed * 31)
      for (i <- 0 until 8) {
        val from = 2004 + rnd.nextInt(21)
        val to = from + rnd.nextInt(2025 - from)
        val q1 = i % 2 == 0
        val p = Params(yearFrom = from, yearTo = to, topN = 1 + rnd.nextInt(10),
          gender = if (q1 && rnd.nextInt(3) > 0) Some(if (rnd.nextBoolean()) "F" else "m") else None,
          states = if (!q1 && rnd.nextInt(3) > 0)
            Some(rnd.shuffle(Star.States).take(1 + rnd.nextInt(3))) else None)
        def report(dw: graft.etl.DwTables) =
          if (q1) LibraryReports.q1GenreSales(dw, p) else LibraryReports.q3GrossMargin(dw, p)
        val store = report(star.dw(from, to))
        val got = store.collect().toSeq
        val builds = buildSides(store.queryExecution.executedPlan)
        assert(builds.size == 3 && builds.forall(_.isInstanceOf[SnapshotBroadcastExchangeExec]),
          s"case $i: $p")
        assert(got == report(plain.copy(factSales = star.dw(from, to).factSales)).collect().toSeq,
          s"case $i: ${if (q1) "q1" else "q3"} $p")
      }
    }
  }
}
