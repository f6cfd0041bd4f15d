package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** The driver's block store as a broadcast leaves it (`BlockManager` is
  * private to Spark): the value's pieces, and the whole value kept
  * beside them.
  */
object BroadcastPieces {
  private def blocks = SparkEnv.get.blockManager

  /** Pieces broadcast `id` was cut into. */
  def count(id: Long): Int = blocks.getMatchingBlockIds {
    case b: BroadcastBlockId => b.broadcastId == id && b.field.startsWith("piece")
    case _ => false
  }.size

  def holdsWholeValue(id: Long): Boolean = blocks.getStatus(BroadcastBlockId(id)).isDefined

  /** Drop the whole value, so the next read reassembles it from the
    * pieces (and stores it again).
    */
  def dropWholeValue(id: Long): Unit = blocks.removeBlock(BroadcastBlockId(id), tellMaster = false)
}
