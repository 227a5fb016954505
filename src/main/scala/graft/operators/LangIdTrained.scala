package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TRAINED multi-class language identification — the fastText-lid shape
  * (hashed character-n-gram features, linear one-vs-rest classifier)
  * that replaces marker-count heuristics when a pipeline needs real
  * language coverage. The production architecture at 100 TB:
  *
  *  - FEATURES: char trigrams over a boundary-marked lowercase char
  *    stream ([[charSpread]]), hashed into a fixed `dim`-wide unit-norm
  *    vector by the [[graft.functions.HashEmbedVector]] kernel — ONE
  *    codegen'd map per row, no vocabulary state, no UDF, width
  *    independent of corpus vocabulary.
  *  - TRAINING: deterministic full-batch GD over a bounded
  *    TakeOrdered sample — K independent one-vs-rest linear classifiers
  *    updated in lockstep (one pass over the sample computes all K
  *    error vectors). Driver arithmetic is model-sized
  *    (`rounds * n * K * dim` doubles), never data-sized.
  *  - SCORING: one fused Catalyst expression ([[graft.functions
  *    .MulticlassArgmax]]) computing all K dots against a referenced
  *    weight matrix + the argmax — a pure codegen'd map fused with the
  *    feature kernel; zero shuffles at any scale, constant generated-
  *    code size in K, safe under predicate pushdown.
  *
  * Determinism / oracle posture — the trained-model-replay technique
  * ([[QualityClassifier]], SURVEY §5.3) extended to multi-class: the
  * squashing link is the RATIONAL sigmoid `p = 0.5 + (0.5*m)/(1+|m|)`
  * (single-rounded IEEE ops only — no `exp()`, so no libm divergence),
  * every accumulation is an ascending-index serial double fold, and the
  * one-vs-rest decomposition keeps the replay exp-free where a softmax
  * link could not (softmax needs `exp`; argmax over K rational-link
  * margins classifies identically for separable classes). The argmax
  * tie rule is FIRST class index (ascending) achieving the maximum —
  * mirrored by the oracle's `ORDER BY m DESC, c ASC` top-1.
  *
  * Update rule per class c (exact op order, the SQL replay mirrors each
  * parenthesization; classes are independent so no cross-class
  * accumulation order exists):
  * {{{
  *   m_ic = fold_j(w_cj * x_ij) + b_c      // ascending-j serial fold
  *   p_ic = 0.5 + (0.5 * m_ic) / (1 + |m_ic|)
  *   e_ic = p_ic - [y_i == c]
  *   g_cj = fold_i(e_ic * x_ij)            // ascending-sample-id fold
  *   gb_c = fold_i(e_ic)
  *   w_cj := w_cj - (lr * g_cj) / n
  *   b_c  := b_c  - (lr * gb_c) / n
  * }}}
  */
object LangIdTrained {

  /** The 64 languages (class index = position — alphabetical by code)
    * with 10 high-frequency function words each: the seeded synthetic
    * corpus [[syntheticCorpus]] draws from and the label set the model
    * predicts. Widened 32 -> 64 in r20 after the K-scaling curve
    * (SCALE.md "Round-20 addition: the fused-argmax K-scaling curve")
    * showed the fused scorer LINEAR in K with no knee through 128
    * (marginal 0.24 -> 0.43 us/row at K=32 -> 64, dim 64). 64 = 2^6 so
    * the class of `doc_id` is exact integer arithmetic on both engines
    * (`% 64` / `// 64` = `shiftright 6`).
    * Words are lowercase, apostrophe-free, space-free; diacritics and
    * non-Latin scripts (bg, el, hi, ru, uk) are deliberate — they are
    * exactly the char-trigram signals a real lid model keys on. Close
    * pairs (cs/sk, hr/sl, ru/uk, es/pt/gl, fi/et) are deliberate too:
    * every sentence carries the WHOLE 10-word vocabulary
    * (SentenceWords >= VocabSize), so classes stay separable on the
    * non-shared words and the 100%-accuracy pin is a real statement
    * about the feature space, not an artifact of distant languages.
    * (Danish-vs-bokmål-grade near-identical vocabularies are the one
    * shape excluded — their function words overlap 8-9/10; the r20
    * additions therefore pick DISTINCTIVE common words for the close
    * newcomers — sr in Cyrillic vs hr, mk avoiding the bg core set,
    * az/uz on their non-Turkish-overlapping forms, af away from the
    * nl article set — rather than the raw frequency-top-10.) */
  val LangVocab: Seq[(String, Seq[String])] = Seq(
    "af" -> Seq("nie", "ek", "jy", "hulle", "baie", "maar",
      "wees", "hierdie", "ons", "dit"),
    "ar" -> Seq("في", "من", "على", "أن", "إلى", "عن",
      "مع", "هذا", "كان", "التي"),
    "az" -> Seq("və", "ki", "olan", "sonra", "lakin", "edir",
      "zaman", "əsas", "görə", "həm"),
    "be" -> Seq("гэта", "ён", "усё", "таксама", "можна", "вельмі",
      "быў", "пасля", "цяпер", "або"),
    "bg" -> Seq("и", "в", "на", "не", "се", "да", "е", "от", "за", "като"),
    "bn" -> Seq("এবং", "আমি", "তিনি", "করে", "হয়", "থেকে",
      "এই", "যে", "তার", "কিন্তু"),
    "ca" -> Seq("els", "amb", "per", "una", "dels", "com",
      "molt", "aquesta", "també", "sobre"),
    "cs" -> Seq("je", "se", "na", "že", "to", "jako",
      "ale", "podle", "také", "však"),
    "cy" -> Seq("wedi", "bod", "gyda", "ond", "hefyd", "mae",
      "roedd", "gan", "eu", "fel"),
    "da" -> Seq("og", "det", "at", "en", "til", "er",
      "som", "på", "de", "ikke"),
    "de" -> Seq("der", "und", "die", "nicht", "ist", "von",
      "mit", "sich", "auf", "dass"),
    "el" -> Seq("και", "το", "να", "του", "η", "με",
      "την", "δεν", "από", "για"),
    "en" -> Seq("the", "and", "of", "to", "that", "it",
      "was", "for", "with", "which"),
    "eo" -> Seq("kaj", "estas", "tio", "kiu", "ankaŭ", "sed",
      "povas", "estis", "tiu", "ĉi"),
    "es" -> Seq("el", "la", "los", "que", "de", "en",
      "un", "por", "con", "para"),
    "et" -> Seq("ja", "on", "ei", "ka", "see", "kui",
      "oli", "aga", "oma", "mis"),
    "eu" -> Seq("eta", "ez", "da", "bat", "du", "hau",
      "baina", "ere", "zen", "dira"),
    "fa" -> Seq("در", "به", "از", "که", "این", "را",
      "با", "است", "برای", "آن"),
    "fi" -> Seq("ja", "on", "ei", "että", "se", "oli",
      "hän", "mutta", "kun", "niin"),
    "fr" -> Seq("le", "de", "et", "les", "des", "une",
      "dans", "pour", "que", "pas"),
    "ga" -> Seq("agus", "bhí", "ach", "sé", "freisin", "nuair",
      "díreach", "áfach", "anois", "beidh"),
    "gl" -> Seq("unha", "dos", "polo", "coa", "tamén", "máis",
      "cando", "despois", "entón", "onde"),
    "he" -> Seq("של", "את", "על", "לא", "זה", "הוא",
      "עם", "כי", "גם", "אבל"),
    "hi" -> Seq("के", "है", "की", "में", "से", "को",
      "का", "और", "पर", "नहीं"),
    "hr" -> Seq("je", "se", "na", "da", "su", "što",
      "ali", "kao", "za", "nije"),
    "hu" -> Seq("az", "és", "hogy", "nem", "egy", "meg",
      "van", "volt", "el", "már"),
    "hy" -> Seq("և", "որ", "է", "այս", "նա", "մի",
      "բայց", "համար", "այդ", "են"),
    "id" -> Seq("yang", "dan", "di", "dengan", "untuk", "ini",
      "dari", "pada", "adalah", "tidak"),
    "is" -> Seq("það", "við", "ekki", "hún", "þetta", "því",
      "hefur", "verið", "líka", "þegar"),
    "it" -> Seq("il", "di", "che", "la", "per", "una",
      "con", "del", "non", "sono"),
    "ja" -> Seq("の", "に", "は", "を", "た", "が", "で", "て", "と", "です"),
    "ka" -> Seq("და", "რომ", "არის", "ეს", "არ", "მისი",
      "იყო", "უფრო", "თუ", "ასევე"),
    "kk" -> Seq("және", "бұл", "бір", "үшін", "деп", "болып",
      "керек", "қазақ", "жыл", "туралы"),
    "km" -> Seq("និង", "នេះ", "គឺ", "បាន", "ការ", "ទៅ",
      "មាន", "ពី", "ដែល", "ក្នុង"),
    "ko" -> Seq("이", "그", "것", "수", "있다", "하다", "그리고", "하지만", "대한", "되다"),
    "lo" -> Seq("ແລະ", "ນີ້", "ໄດ້", "ທີ່", "ຂອງ", "ໃນ",
      "ກັບ", "ມີ", "ເປັນ", "ຈາກ"),
    "lt" -> Seq("ir", "kad", "tai", "bet", "kaip", "buvo",
      "iš", "jis", "bei", "dar"),
    "lv" -> Seq("un", "ir", "ka", "par", "bet", "kā",
      "tika", "arī", "vai", "tas"),
    "mk" -> Seq("дека", "исто", "може", "беше", "многу", "кога",
      "затоа", "сите", "нема", "туку"),
    "mn" -> Seq("нь", "байна", "энэ", "болон", "гэж", "байгаа",
      "хүн", "юм", "бол", "дээр"),
    "mt" -> Seq("huwa", "ukoll", "iżda", "kien", "qed", "biex",
      "madankollu", "għal", "kollox", "tiegħu"),
    "my" -> Seq("သည်", "နှင့်", "ကို", "တွင်", "များ", "ဖြစ်",
      "ရှိ", "လည်း", "မှ", "အတွက်"),
    "nl" -> Seq("de", "het", "een", "van", "in", "op",
      "dat", "niet", "met", "voor"),
    "pl" -> Seq("nie", "się", "na", "że", "do", "jest",
      "po", "tak", "ale", "jak"),
    "pt" -> Seq("que", "não", "uma", "para", "com", "por",
      "mais", "isso", "ele", "você"),
    "ro" -> Seq("și", "de", "la", "în", "cu", "o",
      "pe", "este", "nu", "care"),
    "ru" -> Seq("и", "в", "не", "на", "что", "с", "как", "это", "по", "но"),
    "si" -> Seq("සහ", "මෙම", "ඇත", "විය", "කර", "ලෙස",
      "වූ", "බව", "සඳහා", "නමුත්"),
    "sk" -> Seq("je", "sa", "na", "že", "to", "ako",
      "ale", "som", "už", "aj"),
    "sl" -> Seq("je", "se", "na", "da", "v", "pa",
      "ki", "so", "kot", "tudi"),
    "sq" -> Seq("dhe", "një", "të", "për", "në", "me",
      "nga", "si", "por", "kjo"),
    "sr" -> Seq("је", "су", "али", "као", "био", "ће",
      "него", "сада", "веома", "где"),
    "sv" -> Seq("och", "att", "det", "som", "en", "på",
      "är", "av", "för", "med"),
    "sw" -> Seq("na", "ya", "kwa", "katika", "sana", "kama",
      "wake", "kuwa", "hivyo", "watu"),
    "ta" -> Seq("மற்றும்", "இந்த", "ஒரு", "என்று", "உள்ளது", "அவர்",
      "இது", "ஆனால்", "மிகவும்", "வேண்டும்"),
    "te" -> Seq("మరియు", "ఈ", "ఒక", "అని", "ఉంది", "అతను",
      "కానీ", "చాలా", "కోసం", "నుండి"),
    "th" -> Seq("และ", "ที่", "ใน", "ของ", "ได้", "ให้",
      "ไม่", "จาก", "มี", "เป็น"),
    "tl" -> Seq("ang", "ng", "mga", "ito", "hindi", "kanyang",
      "ngunit", "rin", "siya", "nang"),
    "tr" -> Seq("bir", "ve", "bu", "da", "ne", "için",
      "ile", "olarak", "daha", "çok"),
    "uk" -> Seq("і", "в", "не", "на", "що", "з", "як", "це", "до", "але"),
    "ur" -> Seq("اور", "کے", "میں", "کی", "ہے", "سے",
      "کا", "نے", "لیے", "لیکن"),
    "uz" -> Seq("va", "uchun", "bilan", "ham", "keyin", "edi",
      "emas", "qilgan", "yoki", "shuning"),
    "vi" -> Seq("và", "của", "là", "có", "được", "không",
      "người", "trong", "này", "cho"),
    "zh" -> Seq("的", "是", "在", "了", "我们", "这个", "和", "就", "人", "有"))

  /** number of classes — MUST stay a power of two (see [[LangVocab]]) */
  val NumLangs: Int = LangVocab.size
  require(NumLangs == 64, "class arithmetic assumes 64 languages")

  /** log2(NumLangs): `doc_id / NumLangs` as an exact long shift */
  val LangShift: Int = Integer.numberOfTrailingZeros(NumLangs)

  /** words per synthesized sentence */
  val SentenceWords: Int = 12

  /** vocabulary size per language */
  val VocabSize: Int = LangVocab.head._2.size
  require(LangVocab.forall(_._2.size == VocabSize),
    "every language needs the same vocabulary size")

  /** Deterministic labeled corpus over an id frame: each row gets
    * `lang_k = doc_id % NumLangs` and a [[SentenceWords]]-word sentence
    * drawn from that language's vocabulary rotated by
    * `doc_id // NumLangs` (word j is
    * `vocab[(doc_id // NumLangs + j) % VocabSize]`) — the withPayload
    * posture:
    * the oracle re-synthesizes the identical strings, so the model
    * replay starts from bit-identical text. Output: `idCol`, `lang_k`
    * (int class), `lang` (code string), `sent`. */
  def syntheticCorpus(ids: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val vocabs = typedLit(LangVocab.map(_._2))
    val names = typedLit(LangVocab.map(_._1))
    val k = pmod(col(idCol), lit(NumLangs.toLong)).cast("int")
    val rot = shiftright(col(idCol), LangShift) // doc_id // NumLangs, exact on longs
    val words = (0 until SentenceWords).map { j =>
      element_at(element_at(vocabs, col("lang_k") + 1),
        (pmod(rot + lit(j.toLong), lit(VocabSize.toLong)) + 1).cast("int"))
    }
    ids.select(col(idCol), k.as("lang_k"))
      .withColumn("lang", element_at(names, col("lang_k") + 1))
      .withColumn("sent", concat_ws(" ", words: _*))
  }

  /** The codepoints collapsed to `_` by [[charSpread]]: Java `\s`
    * ([ \t\n\x0B\f\r]) PLUS the three line terminators `.` excludes
    * (NEL U+0085, LS U+2028, PS U+2029). ONE set of ACTUAL chars (Scala
    * escapes compile to the codepoints) dropped verbatim into the Spark
    * pattern, the oracle's RE2 pattern and the fused kernel's
    * membership test — the byte-BPE `\s`-vs-RE2 U+000B lesson: never
    * let two engines interpret a shorthand class (`\uXXXX` isn't even
    * valid RE2), and never leave a `.`-unmatchable char in the stream
    * to glue multi-codepoint tokens. */
  val SpreadWs: String = " \t\n\u000B\f\r\u0085\u2028\u2029"

  /** membership in [[SpreadWs]] (the fused kernel's own copy — the two
    * are pinned equal in LangIdTrainedSpec) */
  def isSpreadWs(cp: Int): Boolean =
    graft.functions.CharTrigramEmbed.isSpreadWs(cp)

  /** Boundary-marked character stream: lowercase, whitespace runs
    * collapsed to `_`, `_`-padded at both ends, then one space inserted
    * after EVERY codepoint — so the standard word-n-gram machinery
    * ([[TextAnalysis.wordNgrams]] n=3 over this column) yields char
    * trigrams including the word-boundary signals (`_th`, `he_`) that
    * carry most of the lid signal. Two codegen'd regexp_replace calls,
    * zero shuffle; the oracle mirrors both (`\$1 ` is `\\1 ` + flag
    * `'g'` in RE2). Every codepoint surviving the [[SpreadWs]] collapse
    * matches `.`, so tokens are single codepoints by construction. */
  def charSpread(text: Column): Column = {
    val flat = regexp_replace(lower(trim(text)), s"[$SpreadWs]+", "_")
    trim(regexp_replace(concat(lit("_"), flat, lit("_")), "(.)", "$1 "))
  }

  /** Append the char-trigram hashed feature vector (md5 oracle mode,
    * `array<double>`, unit-norm via the float round-trip — the
    * [[QualityClassifier.withFeatures]] posture). The FUSED one-pass
    * kernel ([[graft.functions.CharTrigramEmbed]]): byte-identical to
    * the composed [[withFeaturesReference]] chain it replaced, minus
    * the 2x-spread regex passes and per-trigram string allocations that
    * dominated the scoring cost (SCALE.md "Round-18 addition: trained
    * language ID A/B"). */
  def withFeatures(df: DataFrame, textCol: String, dim: Int = 64,
      outCol: String = "feats"): DataFrame =
    df.withColumn(outCol,
      graft.functions.CharTrigramEmbed.embedMd5(col(textCol), dim)
        .cast("array<double>"))

  /** [[withFeatures]] on the PRODUCTION xxhash64 kernel — the usual
    * md5-twin split (q_dedup_minhash / _xx): the md5 mode exists so the
    * DuckDB oracle can replay the hash; at 100 TB score with this one.
    * A model scores the feature space it was trained on: train on xx
    * features to score xx features. */
  def withFeaturesXx(df: DataFrame, textCol: String, dim: Int = 64,
      outCol: String = "feats"): DataFrame =
    df.withColumn(outCol,
      graft.functions.CharTrigramEmbed.embed(col(textCol), dim)
        .cast("array<double>"))

  /** The composed relational formulation ([[charSpread]] ->
    * [[TextAnalysis.wordNgrams]] n=3 -> [[graft.functions
    * .HashEmbedVector]]) — kept ONLY as the independent reference the
    * fused kernel is spec-pinned against byte-for-byte, both hash
    * modes (the hashEmbed/hashEmbedReference pairing). */
  private[graft] def withFeaturesReference(df: DataFrame, textCol: String,
      dim: Int = 64, outCol: String = "feats",
      md5Mode: Boolean = true): DataFrame = {
    val grams = TextAnalysis.wordNgrams(charSpread(col(textCol)), 3)
    val v =
      if (md5Mode) graft.functions.HashEmbedVector.hashEmbedMd5(grams, dim)
      else graft.functions.HashEmbedVector.hashEmbed(grams, dim)
    df.withColumn(outCol, v.cast("array<double>"))
  }

  /** A trained multi-class model: row c of `weights` is class c's
    * one-vs-rest weight vector. */
  final case class MulticlassModel(weights: Seq[Seq[Double]],
      biases: Seq[Double], labels: Seq[String]) {
    def k: Int = weights.size
    def dim: Int = weights.head.size
  }

  /** Train K one-vs-rest linear classifiers by deterministic full-batch
    * GD on a bounded sample (see object scaladoc for the exact update
    * rule). `labelCol` is the int class in `[0, labels.size)`; the
    * sample is the `maxSample` rows smallest by `idCol` via distributed
    * TakeOrdered — per-partition heaps, never a single-partition
    * funnel; driver transfer is `maxSample` rows of one vector column.
    */
  def train(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, labels: Seq[String], rounds: Int = 24,
      lr: Double = 4.0, maxSample: Int = 800): MulticlassModel = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(maxSample >= 1, s"maxSample must be >= 1, got $maxSample")
    val kk = labels.size
    val rows = df
      .select(col(idCol), col(vecCol), col(labelCol).cast("int"))
      .orderBy(col(idCol))
      .limit(maxSample)
      .collect()
    require(rows.nonEmpty, "empty training sample")
    // driver-side re-sort: fold order is the id order by construction
    val sorted = rows.sortWith { (a, b) =>
      a.get(0).asInstanceOf[Comparable[Any]].compareTo(b.get(0)) < 0
    }
    val xs: Array[Array[Double]] = sorted.map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
      case x => x.toString.toDouble
    }.toArray)
    val ys: Array[Int] = sorted.map(_.getInt(2))
    require(ys.forall(y => y >= 0 && y < kk),
      s"labels must be in [0, $kk)")
    val dim = xs(0).length
    require(xs.forall(_.length == dim),
      s"inconsistent feature width in training sample (expected $dim)")
    val n = xs.length.toDouble
    val w = Array.fill(kk)(new Array[Double](dim))
    val b = new Array[Double](kk)
    var t = 0
    while (t < rounds) {
      // all K error vectors from one pass over the sample
      val e = Array.fill(kk)(new Array[Double](xs.length))
      var c = 0
      while (c < kk) {
        var i = 0
        while (i < xs.length) {
          val x = xs(i)
          var s = 0.0
          var j = 0
          while (j < dim) { s += w(c)(j) * x(j); j += 1 }
          val m = s + b(c)
          val p = 0.5 + (0.5 * m) / (1.0 + math.abs(m))
          e(c)(i) = p - (if (ys(i) == c) 1.0 else 0.0)
          i += 1
        }
        c += 1
      }
      c = 0
      while (c < kk) {
        val g = new Array[Double](dim)
        var i = 0
        while (i < xs.length) {
          val x = xs(i)
          var j = 0
          while (j < dim) { g(j) += e(c)(i) * x(j); j += 1 }
          i += 1
        }
        var gb = 0.0
        i = 0
        while (i < xs.length) { gb += e(c)(i); i += 1 }
        var j = 0
        while (j < dim) { w(c)(j) = w(c)(j) - (lr * g(j)) / n; j += 1 }
        b(c) = b(c) - (lr * gb) / n
        c += 1
      }
      t += 1
    }
    MulticlassModel(w.map(_.toSeq).toSeq, b.toSeq, labels)
  }

  /** Gate-ready scoring with the PINNED model ([[LangIdPinned]] — the
    * committed literal weight table, retrain-equality-pinned in
    * LangIdTrainedSpec) over raw text: appends `out` = predicted
    * language code. md5-mode features, so a composite oracle replays
    * this as the md5 feature CTEs + 64 dots against a literal VALUES
    * weight table — never the 24 GD rounds (those stay certified once,
    * in q_text_langid_trained). One fused codegen'd map, zero shuffles,
    * filter-pushdown-safe (see [[score]]). */
  def withLangPinned(df: DataFrame, textCol: String,
      out: String = "lang_pred"): DataFrame = {
    // uniquely-prefixed temp names throughout (the __lidfeats posture):
    // routing through score() would materialize-and-drop the PUBLIC
    // names margin_best/lang_pred, silently destroying a caller's
    // pre-existing columns of those names — only `out` may be replaced
    val f = "__lidfeats"
    val s = "__lidamx"
    val m = LangIdPinned.Model
    withFeatures(df, textCol, outCol = f)
      .withColumn(s, graft.functions.MulticlassArgmax.argmax(
        col(f), m.weights, m.biases, m.labels))
      .withColumn(out, col(s + ".lang_pred"))
      .drop(f, s)
  }

  /** Score a frame: appends `margin_best` (the winning margin) and
    * `lang_pred` (argmax class label, ties to the FIRST class index —
    * the oracle's `ORDER BY m DESC, c ASC`). Margins are bit-exact
    * doubles on both engines, so exact-equality tie detection is
    * portable.
    *
    * All K margins + the argmax evaluate inside ONE fused Catalyst
    * expression ([[graft.functions.MulticlassArgmax]] — generated code
    * is one call into its compiled scoring method over a referenced
    * weight matrix, constant code size in K). The r18 form — K staged
    * dot-product Columns + a when-chain — scaled to K=16 but not 32: a downstream FILTER on `lang_pred`
    * (the curation-gate shape) pushes the predicate through the staged
    * projections, re-inlining the feature kernel and every margin
    * literal tree per reference, and janino exhausts multi-GB heaps on
    * the re-expanded condition. The fused form costs one struct per
    * row and is pushdown-safe anywhere. NULL/wrong-width vectors and
    * NaN margins yield NULL lang_pred, never an arbitrary label. */
  def score(df: DataFrame, vecCol: String,
      model: MulticlassModel): DataFrame = {
    val s = graft.functions.MulticlassArgmax.argmax(
      col(vecCol), model.weights, model.biases, model.labels)
    df.withColumn("__lidamx", s)
      .withColumn("margin_best", col("__lidamx.margin_best"))
      .withColumn("lang_pred", col("__lidamx.lang_pred"))
      .drop("__lidamx")
  }
}
