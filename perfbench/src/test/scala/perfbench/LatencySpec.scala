package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Latency.Chunk

class LatencySpec extends AnyFunSuite {

  private def chunk(due: Long, kept: Boolean*) = Chunk(due, due, kept.toArray)

  test("each kept line gets its batch's commit time minus its chunk's due time") {
    // chunks of 2 lines due every 100 ms; the first batch takes chunks
    // 0-1, the second chunk 2, the third chunks 3-4
    val chunks = Seq(
      chunk(50, true, false), chunk(150, true, true), chunk(250, false, true),
      chunk(350, true, true), chunk(450, false, false))
    val batches = Seq((4L, 1200L), (2L, 2300L), (4L, 3100L))
    assert(Latency.attribute(chunks, batches, 0) ==
      Seq(1150.0, 1050.0, 1050.0, 2050.0, 2750.0, 2750.0))
  }

  test("chunks before `from` are consumed but give no samples") {
    val chunks = Seq(chunk(0, true, true), chunk(100, true, false), chunk(200, true, true))
    val batches = Seq((2L, 1000L), (4L, 2000L))
    assert(Latency.attribute(chunks, batches, 1) == Seq(1900.0, 1800.0, 1800.0))
  }

  test("a batch boundary inside a chunk splits its lines between batches") {
    val chunks = Seq(chunk(0, true, true, true))
    assert(Latency.attribute(chunks, Seq((1L, 500L), (2L, 1500L)), 0) == Seq(500.0, 1500.0, 1500.0))
  }

  test("lines no committed batch covers get no sample; empty batches are skipped") {
    val chunks = Seq(chunk(0, true, true), chunk(100, true, true))
    assert(Latency.attribute(chunks, Seq((0L, 700L), (3L, 900L)), 0) == Seq(900.0, 900.0, 800.0))
    assert(Latency.attribute(chunks, Nil, 0).isEmpty)
  }
}
