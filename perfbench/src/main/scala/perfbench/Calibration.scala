package perfbench

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicLong

/** Machine probes recorded before and after a run as context fields, the
  * same fixed work graft.Bench times: a CPU loop and a disk round trip.
  * They show whether the machine itself was slower during a run. */
object Calibration {

  /** Seconds for `threads` threads to run 5e8 steps of an LCG each. */
  def cpu(threads: Int): Double = {
    val t0 = System.nanoTime()
    val sink = new AtomicLong(0L)
    val ts = (1 to threads).map { seed =>
      new Thread(() => {
        var x = seed.toLong; var i = 0
        while (i < 500000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        sink.addAndGet(x); ()
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    if (sink.get() == 42L) print("") // keeps the loop from being eliminated
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds to write 64 MiB to java.io.tmpdir, fsync, and read it back. */
  def io(): Double = {
    val path = Paths.get(sys.props("java.io.tmpdir"), s"perfbench_ioprobe_${ProcessHandle.current.pid}.bin")
    val block = new Array[Byte](1 << 20)
    var x = 0x9E3779B97F4A7C15L
    for (i <- block.indices) { x = x * 6364136223846793005L + 1L; block(i) = (x >>> 56).toByte }
    val t0 = System.nanoTime()
    try {
      val out = FileChannel.open(path, StandardOpenOption.CREATE, StandardOpenOption.WRITE,
        StandardOpenOption.TRUNCATE_EXISTING)
      try { for (_ <- 0 until 64) out.write(ByteBuffer.wrap(block)); out.force(false) }
      finally out.close()
      val in = FileChannel.open(path, StandardOpenOption.READ)
      try { val buf = ByteBuffer.allocate(1 << 20); while ({ buf.clear(); in.read(buf) >= 0 }) () }
      finally in.close()
    } finally Files.deleteIfExists(path)
    (System.nanoTime() - t0) / 1e9
  }
}
