package graft.core

import java.lang.management.ManagementFactory

import com.sun.management.HotSpotDiagnosticMXBean

/** The heap an array occupies. Under G1 an array of at least half a
  * region is humongous and takes whole regions of its own, so an EBF's
  * bucket array of 2^k ints (plus its 16-byte header) can take twice
  * its size. */
private[graft] object Heap {
  // 0 under a collector without regions
  private val region: Long =
    try ManagementFactory.getPlatformMXBean(classOf[HotSpotDiagnosticMXBean])
      .getVMOption("G1HeapRegionSize").getValue.toLong
    catch { case _: Exception => 0L }

  def array(bytes: Long): Long =
    if (region > 0 && bytes >= region / 2) (bytes + region - 1) / region * region else bytes
}
