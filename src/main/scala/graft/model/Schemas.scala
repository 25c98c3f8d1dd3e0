package graft.model

/** Typed row models for the reference's on-disk formats (SURVEY.md
  * §1.2, FIXTURES.md §A).
  */
object Schemas {

  /** Whisper transcript segment (ref transcribe_council.py:89; fields
    * consumed downstream per summarize.py:23-24, 143-154). */
  case class Segment(
      id: Long,
      start: Double,
      end: Double,
      text: String,
      no_speech_prob: Double,
      file: String)
}
