package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.internal.SQLConf

/** The broadcast decision for the small side of a join. */
private[ops] object Broadcast {

  /** `explicit` wins when given. Otherwise `side` is materialized once (a
    * local checkpoint, released with the frames that use it) and broadcast
    * iff its measured size — rows × schema row width — is within
    * `spark.sql.autoBroadcastJoinThreshold` (negative disables broadcast).
    * A hard `broadcast()` hint is one AQE cannot demote, so it is given
    * only to a side known to fit; a larger side lets the join shuffle.
    */
  def side(side: DataFrame, explicit: Option[Boolean]): DataFrame = explicit match {
    case Some(true) => broadcast(side)
    case Some(false) => side
    case None =>
      val measured = side.localCheckpoint()
      val threshold = SQLConf.get.autoBroadcastJoinThreshold
      val bytes = measured.count() * measured.schema.defaultSize
      if (threshold >= 0 && bytes <= threshold) broadcast(measured) else measured
  }
}
