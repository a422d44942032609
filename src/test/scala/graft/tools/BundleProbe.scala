package graft.tools
import graft.plans.CrawlSettings
import graft.sim.ColaSimulator
import graft.sources.Fixtures
import graft.operators.BundleSpec

object BundleProbe {
  def main(args: Array[String]): Unit = {
    val V = 300L
    val re = "(?i)/p/([0-9]*3)$".r
    // how many outlinks across the whole corpus match the bundle pattern?
    var total = 0; var matched = 0
    (0L until V).foreach { id =>
      graft.functions.Extract.extractOutlinks(Fixtures.htmlFor(id, V), Fixtures.canonUrl(id)).foreach { o =>
        total += 1
        if (re.findFirstMatchIn(o).isDefined) matched += 1
      }
    }
    println(s"PROBE corpus outlinks=$total bundleMatches=$matched")
    val pagesMap = (0L until V).map(id => Fixtures.canonUrl(id) -> Fixtures.htmlFor(id, V)).toMap
    val bs = BundleSpec("/p/([0-9]*0)$", label => {
      val id = label.toLong
      Seq(Fixtures.rawUrl((id * 7 + 1) % V), Fixtures.rawUrl((id * 7 + 2) % V))
    })
    val settings = CrawlSettings(size = 120, nPriorities = 1, hostBudget = 3, waveCap = 60,
      retries = 1, maxWaves = 30, urlPattern = Fixtures.UrlPattern,
      extract = false, seenFilter = "none", numBuckets = 8, bundles = Some(bs))
    val sim = new ColaSimulator(settings, pagesMap)
    sim.run(Fixtures.seeds(V))
    println(s"PROBE sim seen=${sim.seen.size} labels=${sim.seen.count(_.startsWith("bundle://"))} schedule=${sim.schedule.size}")
    val simNoB = new ColaSimulator(settings.copy(bundles = None), pagesMap)
    simNoB.run(Fixtures.seeds(V))
    println(s"PROBE simNoBundles seen=${simNoB.seen.size} schedule=${simNoB.schedule.size}")
  }
}
