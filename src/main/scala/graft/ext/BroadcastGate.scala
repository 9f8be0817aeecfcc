package graft.ext

/** The broadcast-or-shuffle decision of every two-arm operator in the
  * iterative tier ([[Graph]], [[SuffixDedup]]).
  *
  * Why the operators decide instead of the planner: their small side
  * (ranks, labels, frontiers, degrees, representatives) is keyspace-sized
  * and derived from a pinned relation, and a pinned relation reports its
  * origin plan's size ESTIMATE, not its true size — a 10-row `distinct`
  * over 1M ids reports `sizeInBytes` 8,000,000 and no row count after
  * `localCheckpoint(true)`. The planner therefore over-sizes small
  * keyspace sides and sort-merge-joins them against the edge or gram
  * stream, paying a big-side exchange every round. The operators measure
  * rows instead (an exact count of the pinned relation, or a bound read
  * off one aggregate) and broadcast when the measured payload fits; past
  * the budget (billion-node graphs, multi-GB gram tables) the shuffle
  * join is the only safe posture. Both arms return identical rows.
  *
  * The budget is `spark.graft.broadcastBytes` (default 128 MiB — well
  * inside executor memory, far under Spark's 8 GiB broadcast cap),
  * read per call so a runtime `spark.conf.set` takes effect on the next
  * operator; `0` forces every shuffle arm, which is how the specs and
  * `graft.Tool ab` compare the two arms on one box.
  */
private[ext] object BroadcastGate {

  /** Whether `rows` rows of about `rowBytes` bytes each fit the broadcast
    * budget. A malformed or negative budget fails naming the key. */
  def fits(rows: Long, rowBytes: Long): Boolean =
    rows * rowBytes <=
      graft.GraftSession.nonNegativeConf("spark.graft.broadcastBytes", 128L << 20)
}
