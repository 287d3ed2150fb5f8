package graft

import graft.queries.AgriQueries
import org.scalatest.funsuite.AnyFunSuite

import scala.util.{Failure, Success, Try}

/** The registry entries a registry-wide sweep runs. Every entry reads the
  * testdata dir except [[AgriQueries.qs]], which reads the reference's
  * harvested CSVs under [[AgriQueries.CropsDir]]. When that corpus is
  * absent those entries are left out, as RealCorpusSpec's path condition
  * leaves out its own tests, and the sweep names them in an `info` line.
  */
trait RegistrySweep { self: AnyFunSuite =>

  protected def sweepEntries(): Seq[Q] = {
    val (entries, left) = RegistrySweep.entries(AgriQueries.corpusPresent)
    if (left.nonEmpty)
      info(s"${left.size} entries left out, no corpus under ${AgriQueries.CropsDir}: " +
        left.mkString(", "))
    entries
  }

  /** `f` over each entry, where a throw is recorded as `name: message` and
    * the sweep goes on, so one failing entry cannot hide the ones after it. */
  protected def eachEntry[A](qs: Seq[Q])(f: Q => A): (Seq[(Q, A)], Seq[String]) = {
    val tried = qs.map(q => q -> Try(f(q)))
    (tried.collect { case (q, Success(a)) => q -> a },
      tried.collect { case (q, Failure(e)) =>
        s"${q.name}: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}" })
  }
}

object RegistrySweep {

  /** (entries to sweep, names left out) for a host with or without the
    * harvested corpus. */
  def entries(corpusPresent: Boolean): (Seq[Q], Seq[String]) =
    if (corpusPresent) (QueryRegistry.all, Nil)
    else {
      val agri = AgriQueries.qs.map(_.name).toSet
      val (left, kept) = QueryRegistry.all.partition(q => agri(q.name))
      (kept, left.map(_.name))
    }
}
