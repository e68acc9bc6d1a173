package graft

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Pins every registered probe's name and oracle SQL. The committed
  * `oracle_inventory.tsv` holds one `name<TAB>sha256(oracle SQL)` line per
  * probe (`-` for a probe without an oracle), sorted by name. Moving
  * probes between objects must leave it untouched; a deliberate rename or
  * oracle edit regenerates it in the same change.
  */
class OracleInventorySpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("Registry.all matches the committed oracle inventory exactly") {
    val src = scala.io.Source.fromResource("oracle_inventory.tsv")("UTF-8")
    val want = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    val got = Registry.all
      .map(p => s"${p.name}\t${p.oracle.map(sha256).getOrElse("-")}").sorted.toVector
    val names = got.map(_.takeWhile(_ != '\t'))
    assert(names.distinct.size == names.size,
      s"duplicate probe names: ${names.diff(names.distinct)}")
    val missing = want.diff(got)
    val extra = got.diff(want)
    assert(missing.isEmpty && extra.isEmpty,
      s"inventory drift\n  missing or changed:\n${missing.mkString("\n")}\n" +
        s"  new or changed:\n${extra.mkString("\n")}")
    assert(got == want)
  }
}
