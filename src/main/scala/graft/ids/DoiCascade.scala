package graft.ids

/** The DOI-from-PDF handler cascade, offline form.
  *
  * Reference: /root/reference/src/doifrompdf.py:30-52. The reference's
  * handler dict has a duplicate key (`find_identifier_in_text` appears
  * twice, :44-45), so the title search is overwritten and only the
  * preprint-text search runs — we keep that *effective* order:
  *   1. metadata priority keys {doi, pdf2doi_identifier, arxiv}
  *      (a Python set in the reference — iteration order is hash-seeded
  *      and thus run-nondeterministic there; fixed here as doi,
  *      pdf2doi_identifier, arxiv)
  *   2. every other Info-dict value, scanned for identifiers
  *   3. the extracted preprint text, scanned for identifiers
  * Network validation (:166-190) and the Google fallback (:193-253) are
  * dropped per SURVEY.md §7.5.
  */
object DoiCascade {

  import scala.collection.immutable.SeqMap

  final case class DoiResult(identifier: String, identifierType: String)

  private val PriorityKeys = List("doi", "pdf2doi_identifier", "arxiv")

  def fromMetadata(metadata: SeqMap[String, String]): Option[DoiResult] =
    PriorityKeys.iterator
      .flatMap(k => metadata.get(k).filter(_.nonEmpty).map(v => DoiResult(v, k)))
      .nextOption()

  /** The Info-dict value scan — with TWO reference quirks kept
    * (doifrompdf.py:95-111): (a) the loop OVERWRITES its result every
    * iteration (`result = result` on a hit, `result = None` on a miss),
    * so only the LAST value's outcome survives, and only that value is
    * scanned here (the earlier scans' answers are discarded, and the
    * bank's backtracking DOI pattern stays off them); (b) the exclusion
    * of '/wps-journaldoi' is dead code there — pdfplumber metadata keys
    * are slash-stripped, so the comparison never matches and the value
    * IS scanned. Last-value-wins makes iteration order CONTRACTUAL, so
    * the parameter type is SeqMap — a hash-ordered Map (which scrambles
    * beyond 4 entries) cannot be passed by accident; PdfDoc.metadata
    * supplies document order, matching Python dict order. */
  def fromInfoValues(metadata: SeqMap[String, String]): Option[DoiResult] =
    metadata.lastOption.flatMap { case (_, v) => Identifiers.extract(v) }.map(DoiResult(_, "text"))

  def fromText(preprint: String): Option[DoiResult] =
    Identifiers.extract(preprint).map(id => DoiResult(id, "text"))

  /** Full cascade over already-parsed metadata + text. */
  def apply(metadata: SeqMap[String, String], preprint: String): Option[DoiResult] =
    fromMetadata(metadata)
      .orElse(fromInfoValues(metadata))
      .orElse(fromText(preprint))
}
