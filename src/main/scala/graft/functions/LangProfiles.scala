package graft.functions

/** Character-trigram language profiles for the n-gram language
  * identifier ([[graft.queries.TextQueries.textLangidNgram]]) — the
  * Cavnar–Trenkle-style upgrade over the function-word heuristic
  * (`TextFunctions.langId`), whose envelope is only "documents that
  * contain the listed stopwords": short texts, stopword-free phrasing,
  * or morphology-heavy languages fall through to its `en` default.
  * Trigram statistics cover every word of the document, so the n-gram
  * scorer is robust exactly where the word heuristic is blind.
  *
  * SHIPPED AS DATA, not a binary dependency: the profiles derive at
  * class-init from small built-in parallel sample passages (one
  * passage, four translations — parallel text keeps the per-language
  * totals comparable), and the SAME derived table is embedded into the
  * DuckDB oracle as SQL `VALUES`, so the gate checks the scorer
  * end-to-end. At production scale the sample passages are replaced by
  * a real per-language corpus slice; the derivation and scoring are
  * unchanged (profile size is O(languages × topK), always broadcast).
  *
  * Weights are FIXED-POINT integer milli-log-probabilities
  * (`round(1000 · ln(count/total))`): scores sum exactly in both
  * engines, so the argmax can never flip on floating-point summation
  * order — the same determinism trick as the decimal aggregates in the
  * warehouse oracles.
  */
object LangProfiles {

  /** Miss weight in milli-log units: a trigram absent from a profile
    * scores as e^-10 ≈ 5e-5 probability — below every kept trigram. */
  val MissMilli: Int = -10000

  /** Trigrams kept per language: enough to cover a sample passage's
    * mass; ties cut deterministically (count desc, trigram asc). */
  val TopK: Int = 96

  /** Candidate languages with their tie-break priority (argmax ties
    * resolve toward the lower priority — `en` first, matching the
    * word heuristic's default for evidence-free documents). */
  val Languages: Seq[(String, Int)] =
    Seq("en" -> 0, "de" -> 1, "fr" -> 2, "es" -> 3)

  /** One passage, translated — parallel text so per-language trigram
    * totals are comparable. Written for this library (no quotation). */
  private val samples: Map[String, String] = Map(
    "en" -> ("the quick brown fox jumps over the lazy dog while the children " +
      "play in the garden and the people walk through the streets of the old " +
      "town every morning before work begins they talk about the weather and " +
      "about what they will have for dinner tonight because nothing matters " +
      "more than good food and a friendly conversation with the whole family " +
      "when the evening comes and everyone sits together at the same table"),
    "de" -> ("der schnelle braune fuchs springt über den faulen hund während " +
      "die kinder im garten spielen und die leute jeden morgen vor der arbeit " +
      "durch die straßen der altstadt gehen sie sprechen über das wetter und " +
      "darüber was sie heute abend essen werden denn nichts ist wichtiger als " +
      "gutes essen und ein freundliches gespräch mit der ganzen familie wenn " +
      "der abend kommt und alle zusammen am selben tisch sitzen"),
    "fr" -> ("le rapide renard brun saute par dessus le chien paresseux pendant " +
      "que les enfants jouent dans le jardin et que les gens marchent chaque " +
      "matin dans les rues de la vieille ville avant le travail ils parlent du " +
      "temps et de ce qu ils vont manger ce soir parce que rien n est plus " +
      "important que la bonne nourriture et une conversation amicale avec " +
      "toute la famille quand le soir arrive et que tout le monde s assoit " +
      "ensemble autour de la même table"),
    "es" -> ("el rápido zorro marrón salta sobre el perro perezoso mientras los " +
      "niños juegan en el jardín y la gente camina cada mañana por las calles " +
      "del casco antiguo antes del trabajo hablan del tiempo y de lo que van a " +
      "cenar esta noche porque nada es más importante que la buena comida y " +
      "una conversación amistosa con toda la familia cuando llega la tarde y " +
      "todos se sientan juntos en la misma mesa"))

  /** Space-padded character trigrams of one word — the same shape the
    * runtime scorer builds (`" w "` yields `len(w)` trigrams, so even
    * one-letter words contribute). ASCII `[a-z]+` word extraction
    * everywhere (Scala here, Spark and DuckDB at runtime): accented
    * characters split words identically in all three engines, so the
    * profile and the scored text can never disagree on tokenization. */
  private[functions] def wordTrigrams(w: String): Seq[String] = {
    val padded = " " + w + " "
    (0 until w.length).map(i => padded.substring(i, i + 3))
  }

  private def trigramsOf(text: String): Seq[String] =
    "[a-z]+".r.findAllIn(text.toLowerCase).flatMap(wordTrigrams).toSeq

  /** A derived profile table plus its language priority order — the
    * unit the scorer consumes. [[builtin]] is the shipped default;
    * [[graft.queries.TextQueries.deriveLangProfiles]] builds one from
    * any `(lang, text)` corpus slice with the SAME derivation, so a
    * production profile swap is an input file, not a code edit. */
  final case class ProfileSet(languages: Seq[(String, Int)],
                              rows: Seq[(String, String, Int)]) {
    /** Evidence-free documents default to the priority-0 language. */
    def defaultLang: String = languages.minBy(_._2)._1
  }

  /** The one derivation both the built-in table and corpus-slice
    * ingestion go through: per language, keep the [[TopK]] most
    * frequent trigrams (ties cut deterministically: count desc,
    * trigram asc) weighted `round(1000·ln(count/total))` — `total`
    * over ALL of that language's trigrams, not just the kept ones, so
    * the weights are true log-probabilities.
    *
    * Weights are clamped strictly above [[MissMilli]]: the scorer's
    * argmax runs over langs with ≥1 matched trigram ONLY, which is
    * sound precisely because a match always outscores a miss — a
    * profile derived from a huge corpus slice (where a kept trigram's
    * log-prob could fall below e^-10) must keep the invariant, so it
    * is enforced here, not assumed. `langOrder` is the tie-break
    * priority (first = the evidence-free default). `totals` overrides
    * the per-language normalizer when `countsByLang` holds only a
    * pre-cut top-K (the distributed derivation collects top-K rows
    * plus the full totals, never every distinct trigram). */
  def fromCounts(countsByLang: Map[String, Map[String, Long]],
                 langOrder: Seq[String],
                 totals: Map[String, Long] = Map.empty): ProfileSet = {
    require(langOrder.nonEmpty && langOrder.forall(countsByLang.contains),
      s"profile derivation needs counts for every ordered language: $langOrder")
    val rows = langOrder.flatMap { lang =>
      val counts = countsByLang(lang)
      val total = totals.getOrElse(lang, counts.values.sum).toDouble
      require(total > 0, s"language '$lang' contributed no trigrams")
      counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(TopK)
        .map { case (t, c) =>
          (lang, t, math.max(MissMilli + 1,
            math.round(1000.0 * math.log(c / total)).toInt))
        }
    }
    ProfileSet(langOrder.zipWithIndex, rows)
  }

  /** The shipped default, derived from the built-in passages. */
  val builtin: ProfileSet = fromCounts(
    samples.view.mapValues(
      trigramsOf(_).groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }
    ).toMap,
    Languages.map(_._1))

  /** `(lang, trigram, milliLogP)` — the built-in profile table. */
  val rows: Seq[(String, String, Int)] = builtin.rows

  /** The profile as DuckDB `VALUES` rows, embedded into the oracle so
    * both engines score against byte-identical weights. */
  def sqlValues: String =
    rows.map { case (l, t, w) => s"('$l', '${t.replace("'", "''")}', $w)" }
      .mkString(", ")
}
