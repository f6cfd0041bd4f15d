package graft

import org.apache.spark.graft.BroadcastPieces
import org.apache.spark.network.util.JavaUtils
import org.scalatest.funsuite.AnyFunSuite

/** The broadcast piece size `GraftSession.tuned` sets (see the comment
  * there for the measurement): below half of the smallest G1 region, so
  * no piece is a humongous object, and a value that spans several
  * pieces still reads back whole.
  */
class BroadcastBlockSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("broadcast pieces stay under half a 1 MB G1 region; a ~2 MB value spans several and reads back equal") {
    val blockSize = JavaUtils.byteStringAsBytes(spark.conf.get("spark.broadcast.blockSize"))
    assert(blockSize < 512L * 1024, s"spark.broadcast.blockSize = $blockSize B")

    val sc = spark.sparkContext
    val rnd = new scala.util.Random(7)
    val value = Array.fill(1 << 18)(rnd.nextLong())
    val b = sc.broadcast(value)
    try {
      assert(BroadcastPieces.count(b.id) >= 4, s"${BroadcastPieces.count(b.id)} pieces")
      BroadcastPieces.dropWholeValue(b.id)
      assert(!BroadcastPieces.holdsWholeValue(b.id))
      val read = sc.parallelize(Seq(0), 1).map(_ => java.util.Arrays.hashCode(b.value) -> b.value.length).collect()
      assert(read.toSeq == Seq(java.util.Arrays.hashCode(value) -> value.length))
      assert(BroadcastPieces.holdsWholeValue(b.id), "the read did not reassemble the pieces")
    } finally b.destroy()
  }
}
