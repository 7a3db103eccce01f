package graft

import org.apache.spark.sql.DataFrame

package object queries {

  /** Ends a report's distributed part at its first aggregate whose grain
    * the dimensions bound (at most years × quarters × genres or states
    * rows). A narrow `coalesce(1)`: the aggregate still shuffles across
    * the cluster, but its output lands in one partition, so everything
    * after it (a pivot aggregate, the windows, the top-N filter, the
    * final sort) finds its distribution satisfied and runs in the
    * aggregate's own stage, with no further exchange, no range-sampling
    * job for the sort and no AQE re-plan in between. `repartition(1)`
    * would add a shuffle of its own. Not for a grain that grows with the
    * data (per order, per PO, per customer). */
  private[queries] def oneStageTail(grainBounded: DataFrame): DataFrame = grainBounded.coalesce(1)
}
