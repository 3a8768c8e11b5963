package graft

import java.lang.reflect.Modifier
import org.scalatest.funsuite.AnyFunSuite
import graft.spark.TableFormat

/** The table seam stays what perfbench's `TracingFormat` forwards, with no
  * member body a delegating format could inherit instead of forwarding. */
class TableFormatSeamSpec extends AnyFunSuite {

  test("TableFormat declares exactly the forwarded members, none with a body") {
    // default-argument getters and the static forwarders scalac emits are
    // not members a delegator implements
    val members = classOf[TableFormat].getDeclaredMethods.toSeq
      .filterNot(m => Modifier.isStatic(m.getModifiers) || m.getName.contains("$default$"))
    val concrete = members.filterNot(m => Modifier.isAbstract(m.getModifiers)).map(_.getName)
    assert(concrete.isEmpty, s"TableFormat members with a body: ${concrete.sorted}")
    assert(members.map(_.getName).sorted == Seq(
      "abandonBranch", "branches", "commitWave", "committedBuckets", "compact",
      "expireBranches", "expireSnapshots", "latestSnapshot", "listStagedFiles",
      "publishBranch", "publishBranch", "readAppendsBetween", "readCommitted",
      "readCommittedAsOf", "readCommittedAtBranch", "readCommittedForConvs",
      "readDeleteKeysBetween", "readManifest", "readManifestAt", "removeOrphanFiles",
      "snapshotAsOfTimestamp", "snapshotIntact"))
  }
}
