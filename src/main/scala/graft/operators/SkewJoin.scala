package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.Pin.PinOps

/** Salted equi-join for skewed keys — the join-side companion of
  * [[graft.transform.Aggregate.saltedSum]].
  *
  * When one join key carries a disproportionate share of the fact side
  * (a viral item, a null-ish sentinel, a default tenant), hash
  * partitioning sends the whole key to ONE reducer and the stage runs at
  * the speed of that straggler. Salting splits the hot key across `salt`
  * reducers: the fact side gets a per-row salt in [0, salt), the dim side
  * is replicated once per salt value, and the join runs on (key, salt) —
  * shuffle volume grows by salt× on the DIM side only, while the fact
  * side (the 100 TB one) is never replicated.
  *
  * The salt values never reach the output, so the result is EXACTLY the
  * plain join's row multiset — the q67 oracle is the unsalted SQL join,
  * which is the whole point: a skew mitigation that changes any row is
  * wrong.
  *
  * When to reach for this instead of AQE: AQE's skew-join handling splits
  * oversized PARTITIONS after the map stage and needs the dim side's
  * matching partition replicated from shuffle files it already has — it
  * covers sort-merge joins well. Salting remains the tool when the skew
  * is inside one KEY under hash aggregation-style joins, when AQE is off,
  * or when the dim side must stay broadcast-free but tiny enough to
  * replicate salt×.
  *
  * Price tag (measured, SCALING.md round-4b): on a SKEW-FREE corpus the
  * salted join costs ~7× the plain join at 10× scale — the replicated
  * dim side outgrows the broadcast threshold and forces both sides to
  * shuffle. Salt only under measured skew, size `salt` to the hot key's
  * excess, and prefer a plain broadcast join whenever the UN-replicated
  * dim side fits the threshold (broadcast is itself immune to key skew).
  */
object SkewJoin {

  /** `left` ⋈ `right` on `leftKey = rightKey`, salt-split. `joinType` may
    * be `inner` or `left_outer` — each left row carries exactly ONE salt,
    * so unmatched left rows surface exactly once; `right_outer`/`full`
    * would see the replicated dim side and are rejected.
    *
    * The per-row salt is `(partition id + row position) mod salt` — cheap,
    * deterministic within a run, and irrelevant to the result: it only
    * chooses WHICH replica of the dim row a fact row meets.
    */
  def saltedJoin(left: DataFrame, leftKey: String,
                 right: DataFrame, rightKey: String,
                 salt: Int = 16, joinType: String = "inner"): DataFrame = {
    require(salt >= 1 && salt <= 1024, s"salt out of [1, 1024]: $salt")
    require(Set("inner", "left_outer", "left").contains(joinType),
      s"saltedJoin supports inner/left_outer, not $joinType (dim replication breaks right-preserving joins)")
    val saltedLeft = left.withColumn("__salt", rowSalt(lit(salt.toLong)))
    val replicatedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedLeft
      .join(replicatedRight,
        saltedLeft(leftKey) === replicatedRight(rightKey) &&
          saltedLeft("__salt") === replicatedRight("__salt"),
        joinType)
      .drop("__salt")
  }

  /** A fact row's salt in [0, n): `(partition id + row position) mod n`,
    * cheap and deterministic within a run. Which salt a row gets never
    * changes the result, only which replica of its dim row it meets.
    */
  private def rowSalt(n: Column): Column =
    pmod(spark_partition_id().cast("long") + monotonically_increasing_id(), n).cast("int")

  /** Skew ADVISOR: the decision table [[plannedSaltedJoin]] consumes —
    * per key whose fact count exceeds `targetRowsPerTask`, the ceil-
    * division salt factor `⌈cnt / target⌉` (capped at `maxSalt`) that
    * splits it back under the target. [[saltedJoin]]'s uniform salt pays
    * the salt× dim replication for EVERY key (measured ~7× on a skew-free
    * corpus — SCALING.md round-4b); keyed salting pays it only where the
    * skew is, which is what makes it deployable as a default.
    *
    * Output is hot keys ONLY (cold keys are implicitly salt = 1), so the
    * plan is heavy-hitter-sized — broadcastable by construction at any
    * corpus scale. One map-combined key aggregate; nothing else touches
    * facts.
    */
  def saltPlan(df: DataFrame, key: String, targetRowsPerTask: Long,
               maxSalt: Int = 256): DataFrame = {
    require(targetRowsPerTask >= 1, s"bad target: $targetRowsPerTask")
    require(maxSalt >= 1 && maxSalt <= 1024, s"maxSalt out of [1, 1024]: $maxSalt")
    df.groupBy(col(key).as("key")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > targetRowsPerTask)
      .withColumn("salt", least(
        expr(s"(cnt + ${targetRowsPerTask - 1}L) div ${targetRowsPerTask}L"),
        lit(maxSalt.toLong)).cast("int"))
  }

  /** Skew ACTUATOR: [[saltedJoin]] driven by a [[saltPlan]] decision
    * table instead of a uniform factor — each fact row salts in
    * [0, salt(key)) (1 for keys off the plan), each dim row replicates
    * exactly salt(key) times. The dim-side blow-up collapses from
    * salt×|dim| to Σ_hot (salt_k − 1) extra rows — the uniform join's
    * price tag paid only on the measured hot keys — while the result
    * stays EXACTLY the plain join's row multiset (the salt picks WHICH
    * replica a fact row meets, nothing more; the q298 oracle is the
    * unsalted SQL join).
    *
    * Plan shape: the plan joins into both sides as a broadcast (it is
    * hot-key-sized by construction); the main join shuffles on
    * (key, salt), splitting each hot key across salt_k reducers.
    */
  def plannedSaltedJoin(left: DataFrame, leftKey: String,
                        right: DataFrame, rightKey: String,
                        plan: DataFrame, joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer", "left").contains(joinType),
      s"plannedSaltedJoin supports inner/left_outer, not $joinType")
    val p = broadcast(plan.select(col("key").as("__sp_key"),
      col("salt").as("__sp_salt")).pin()) // one-shot: hot-key-sized; joined into BOTH sides
    val saltedLeft = left
      .join(p, left(leftKey) === p("__sp_key"), "left")
      .withColumn("__sn", coalesce(col("__sp_salt"), lit(1)).cast("long"))
      .withColumn("__salt", rowSalt(col("__sn")))
      .drop("__sp_key", "__sp_salt", "__sn")
    val replicatedRight = right
      .join(p, right(rightKey) === p("__sp_key"), "left")
      .withColumn("__sn", coalesce(col("__sp_salt"), lit(1)))
      .withColumn("__salt", explode(sequence(lit(0), col("__sn") - 1)))
      .drop("__sp_key", "__sp_salt", "__sn")
    saltedLeft
      .join(replicatedRight,
        saltedLeft(leftKey) === replicatedRight(rightKey) &&
          saltedLeft("__salt") === replicatedRight("__salt"),
        joinType)
      .drop("__salt")
  }
}
