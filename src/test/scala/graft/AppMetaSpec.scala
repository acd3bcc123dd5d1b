package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.serve.AppMeta

/** Config/VERSION scans (SURVEY §2 S11–S12) against the reference's own
  * committed files, read through [[Fixtures.assumeFile]]: a missing
  * checkout cancels those two tests. */
class AppMetaSpec extends AnyFunSuite {

  test("config.json defaults parse (utils.py:9-13)") {
    val c = AppMeta.loadConfig(Fixtures.assumeFile(s"${Fixtures.referenceDir}/config.json"))
    assert(c.authors === Seq("85303", "85201"))
    assert(c.works === Seq("89000", "88590"))
    assert(c.hops === 1)
    assert(c.excludeList === Nil)
    assert(c.drawNetworkxGraph === false)
    assert(c.networkxFigureSize === Seq(14, 7))
    assert(c.outputGephiFile === true)
  }

  test("VERSION line-positional parse (utils.py:32-50)") {
    val v = AppMeta.loadVersions(Fixtures.assumeFile(s"${Fixtures.referenceDir}/VERSION"))
    assert(v.app === "2.6.0")
    assert(v.panditData === "2025-11-07")
    assert(v.setiData === "2025-11-07")
  }

  test("VERSION parse is positional, not key-driven, and strips both quote styles") {
    val f = java.nio.file.Files.createTempFile("version", "")
    java.nio.file.Files.writeString(f,
      "anything = '1.2.3'\nwhatever=\"2020-01-01\"\nx =  'y' \n")
    val v = AppMeta.loadVersions(f.toString)
    assert(v === AppMeta.Versions("1.2.3", "2020-01-01", "y"))
  }
}
