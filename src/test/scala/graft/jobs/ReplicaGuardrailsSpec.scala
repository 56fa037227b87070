package graft.jobs

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxnApplier
import graft.sinks.RegistrySidecar
import graft.sources.BinlogDumpClient

/** Guardrails around the standing replica's failure handling and
  * sidecar formats: the 1236 fatal/transient split (a purged-binlog
  * 1236 signals unrecoverable data loss and must NOT be silently
  * retried forever — reference behavior: a real replica stops with
  * ER_MASTER_FATAL_ERROR_READING_BINLOG) and the delimiter guards on
  * every text sidecar (names carrying the sidecar's own separators
  * would corrupt it, misbinding columns on resume). */
class ReplicaGuardrailsSpec extends AnyFunSuite {

  test("fatal1236 splits unrecoverable from transient dump answers") {
    // unrecoverable: purged-gtid (5.7 and 8.0 wordings) and malformed set
    assert(BinlogDumpClient.fatal1236(
      "The slave is connecting using CHANGE MASTER TO MASTER_AUTO_POSITION = 1, " +
      "but the master has purged binary logs containing GTIDs that the slave requires."))
    assert(BinlogDumpClient.fatal1236(
      "Cannot replicate because the source purged required binary logs."))
    assert(BinlogDumpClient.fatal1236("Malformed GTID set specification"))
    assert(BinlogDumpClient.fatal1236(null) == false)
    // transient: rotate/promotion windows — tolerated and retried
    assert(!BinlogDumpClient.fatal1236(
      "Could not find first log file name in binary log index file"))
    assert(!BinlogDumpClient.fatal1236("unknown binlog file binlog.000007"))
  }

  test("registry sidecar refuses names carrying its own delimiters") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-guard-reg").toString
    intercept[IllegalArgumentException] {
      RegistrySidecar.save(dir, Map(("db", "t\tx") -> Seq("a")))
    }
    intercept[IllegalArgumentException] {
      RegistrySidecar.save(dir, Map(("db", "t") -> Seq("a,b")))
    }
    // clean names round-trip
    RegistrySidecar.save(dir, Map(("db", "t") -> Seq("a", "b")))
    assert(RegistrySidecar.resume(dir, Map.empty)
      == Map(("db", "t") -> Seq("a", "b")))
  }

  test("rename-lineage sidecar refuses names carrying its delimiters") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-guard-lin").toString
    intercept[IllegalArgumentException] {
      TxnApplier.saveRenameLineage(dir, Map("v2" -> Seq("v,old")))
    }
    TxnApplier.saveRenameLineage(dir, Map("v2" -> Seq("v", "v0")))
    assert(TxnApplier.renameLineage(dir) == Map("v2" -> Seq("v", "v0")))
  }
}
