package graft.corpus

import java.util.{Locale, SplittableRandom}

/** Deterministic per-language text generator. Word pools are weighted so
  * the Lang kernel's function-word evidence fires reliably (mirroring real
  * prose, where function words dominate).
  */
object TextGen {

  val languages: Vector[String] =
    Vector("en", "de", "fr", "es", "ru", "pt", "it", "nl", "zh", "ja",
      "da", "fi", "cs", "vi", "sk", "lv", "sr", "is", "sq", "gl", "mt",
      "uz", "az", "sw", "tl", "mn")

  private val pools: Map[String, (Vector[String], Vector[String])] = Map(
    // (function words — high frequency, content words — low frequency)
    "en" -> (Vector("the", "and", "of", "to", "a", "is", "in", "it", "that",
      "he", "his", "with", "are", "not", "by", "on", "have", "my", "for", "but"),
      Vector("woods", "village", "horse", "snow", "evening", "promises",
        "lake", "wind", "flake", "harness", "mistake", "farmhouse", "sleep",
        "winter", "shadow", "lantern", "meadow", "frost", "sound", "bells")),
    "de" -> (Vector("der", "die", "das", "und", "ist", "nicht", "ein", "im",
      "zu", "mit", "auf", "den", "er", "es", "wie", "sein", "noch", "am",
      "bei", "ich"),
      Vector("wald", "dorf", "pferd", "schnee", "abend", "glocken", "teich",
        "wind", "flocke", "jahr", "haus", "weg", "schlaf", "winter",
        "schatten", "laterne", "wiese", "frost", "klang", "stille")),
    "fr" -> (Vector("le", "la", "les", "de", "des", "du", "un", "une", "et",
      "est", "je", "il", "ne", "pas", "que", "qui", "ce", "dans", "par", "pour"),
      Vector("bois", "village", "cheval", "neige", "soir", "clochettes",
        "lac", "vent", "flocon", "promesses", "maison", "chemin", "sommeil",
        "hiver", "ombre", "lanterne", "prairie", "givre", "bruit", "calme")),
    "es" -> (Vector("el", "la", "los", "las", "de", "del", "un", "una", "y",
      "es", "en", "que", "se", "su", "sin", "con", "por", "para", "este", "mi"),
      Vector("bosque", "aldea", "caballo", "nieve", "tarde", "cencerro",
        "lago", "viento", "copo", "promesas", "casa", "camino", "sueño",
        "invierno", "sombra", "farol", "pradera", "escarcha", "sonido", "calma")),
    "ru" -> (Vector("и", "в", "не", "на", "я", "он", "его", "как", "мне",
      "что", "у", "но", "мой", "это", "по", "так"),
      Vector("лес", "село", "конь", "снег", "вечер", "бубенцы", "озеро",
        "ветер", "хлопья", "обещания", "дом", "путь", "сон", "зима",
        "тень", "фонарь", "луг", "мороз", "звук", "тишина")),
    "pt" -> (Vector("não", "um", "uma", "os", "as", "do", "da", "em", "no",
      "na", "com", "mais", "como", "mas", "foi", "ele", "sua", "ser",
      "muito", "já"),
      Vector("floresta", "aldeia", "cavalo", "neve", "tarde", "sinos",
        "lago", "vento", "floco", "promessas", "casa", "caminho", "sono",
        "inverno", "sombra", "lanterna", "prado", "geada", "som", "calma")),
    "it" -> (Vector("il", "lo", "gli", "che", "non", "per", "con", "più",
      "come", "anche", "sono", "questo", "nel", "della", "di", "da",
      "molto", "tutto", "dopo", "ogni"),
      Vector("bosco", "villaggio", "cavallo", "neve", "sera", "campane",
        "lago", "vento", "fiocco", "promesse", "casa", "strada", "sonno",
        "inverno", "ombra", "lanterna", "prato", "gelo", "suono", "quiete")),
    "nl" -> (Vector("de", "het", "een", "van", "ik", "je", "niet", "zijn",
      "dat", "die", "aan", "met", "als", "voor", "maar", "dan", "ook",
      "naar", "nog", "geen"),
      Vector("bos", "dorp", "paard", "sneeuw", "avond", "bellen", "meer",
        "wind", "vlok", "beloften", "huis", "weg", "slaap", "winter",
        "schaduw", "lantaarn", "weide", "vorst", "geluid", "stilte")),
    "zh" -> (Vector("的", "是", "了", "在", "和", "有", "不", "我", "他",
      "这", "那", "就", "都", "也", "很", "与"),
      Vector("森林", "村庄", "马", "雪", "傍晚", "湖", "风", "房子", "道路",
        "冬天", "影子", "灯", "草地", "霜", "声音", "寂静")),
    "ja" -> (Vector("は", "の", "に", "を", "が", "と", "で", "も", "から",
      "まで", "です", "ます", "した", "ある", "いる", "この"),
      Vector("森", "村", "馬", "雪", "夕方", "湖", "風", "家", "道",
        "冬", "影", "灯り", "草原", "霜", "音", "静けさ")),
    // round-4 breadth: Danish (da/no doublets exercised: af/efter/hvad/
    // ud/lidt), Finnish, Czech (háček/kroužek diacritics), Vietnamese
    "da" -> (Vector("og", "af", "hvad", "efter", "ud", "lidt", "meget",
      "ikke", "jeg", "han", "hun", "være", "også", "måske", "nogle",
      "sådan", "når", "hvis", "kun", "gerne"),
      Vector("skov", "landsby", "hest", "sne", "aften", "klokker", "sø",
        "vind", "fnug", "løfter", "hus", "vej", "søvn", "vinter",
        "skygge", "lygte", "eng", "frost", "lyd", "stilhed")),
    "fi" -> (Vector("ja", "on", "ei", "että", "se", "hän", "minä",
      "mutta", "kun", "niin", "oli", "myös", "vain", "jos", "tämä",
      "joka", "kaikki", "vielä", "kanssa", "sitten"),
      Vector("metsä", "kylä", "hevonen", "lumi", "ilta", "kellot",
        "järvi", "tuuli", "hiutale", "lupaukset", "talo", "tie", "uni",
        "talvi", "varjo", "lyhty", "niitty", "halla", "ääni",
        "hiljaisuus")),
    "cs" -> (Vector("je", "že", "ale", "jako", "už", "když", "jen",
      "není", "byl", "jsem", "jsou", "také", "ještě", "může", "velmi",
      "mezi", "před", "kde", "který", "nebo"),
      Vector("hvozd", "vesnice", "kůň", "sníh", "večer", "zvonky",
        "jezero", "vítr", "vločka", "sliby", "dům", "cesta", "spánek",
        "zima", "stín", "lucerna", "louka", "mráz", "zvuk", "ticho")),
    "vi" -> (Vector("và", "của", "là", "có", "không", "được", "một",
      "trong", "đã", "cho", "những", "với", "này", "khi", "về", "như",
      "cũng", "rất", "nhưng", "vẫn"),
      Vector("rừng", "làng", "ngựa", "tuyết", "tối", "hồ", "gió",
        "nhà", "đường", "mùa", "bóng", "đèn", "đồng", "sương",
        "tiếng", "yên", "chuông", "giấc", "lạnh", "xa")),
    // Slovak (ľ/ô exercise writers' latin-2 range) and Latvian (macrons)
    "sk" -> (Vector("je", "že", "som", "si", "sú", "aj", "ako", "keď",
      "už", "nie", "čo", "iba", "veľmi", "môže", "tiež", "ešte", "kde",
      "ktorý", "alebo", "potom"),
      Vector("hora", "dedina", "kôň", "sneh", "večer", "zvony",
        "jazero", "vietor", "vločka", "sľuby", "dom", "cesta",
        "spánok", "zima", "tieň", "lampa", "lúka", "mráz", "zvuk",
        "ticho")),
    "lv" -> (Vector("ir", "un", "ka", "es", "tu", "bet", "ar", "par",
      "kā", "tas", "vai", "tikai", "ļoti", "jau", "vēl", "pēc", "kad",
      "kur", "arī", "bija"),
      Vector("mežs", "ciems", "zirgs", "sniegs", "vakars", "zvani",
        "ezers", "vējš", "pārsla", "solījumi", "māja", "ceļš",
        "miegs", "ziema", "ēna", "laterna", "pļava", "sals", "skaņa",
        "klusums")),
    // round-5 breadth: Serbian (Cyrillic ј/љ/њ/ћ/ђ branch), Icelandic
    // (þ/ð), Albanian (ë density), Galician (es/pt neighbor), Maltese
    // (ħ/ġ/għ digraphs)
    "sr" -> (Vector("је", "и", "у", "се", "на", "да", "не", "су", "за",
      "који", "што", "али", "као", "још", "само", "јер", "када", "где",
      "ће", "њега"),
      Vector("шума", "село", "коњ", "снег", "вече", "звона", "језеро",
        "ветар", "пахуља", "обећања", "кућа", "пут", "сан", "зима",
        "сенка", "фењер", "ливада", "мраз", "звук", "тишина")),
    "is" -> (Vector("og", "að", "er", "það", "ég", "þú", "hann", "hún",
      "við", "ekki", "var", "sem", "til", "með", "fyrir", "um", "þetta",
      "hvað", "mjög", "þegar"),
      Vector("skógur", "þorp", "hestur", "snjór", "kvöld", "bjöllur",
        "vatn", "vindur", "flyksa", "loforð", "hús", "vegur", "svefn",
        "vetur", "skuggi", "lukt", "engi", "frost", "hljóð", "þögn")),
    "sq" -> (Vector("dhe", "një", "të", "është", "nuk", "unë", "për",
      "nga", "në", "kur", "shumë", "pak", "tani", "këtu", "vetëm",
      "edhe", "ishte", "janë", "kam", "sepse"),
      Vector("pyll", "fshat", "kalë", "borë", "mbrëmje", "kambana",
        "liqen", "erë", "dëborë", "premtime", "shtëpi", "rrugë", "gjumë",
        "dimër", "hije", "fener", "livadh", "ngricë", "zë", "qetësi")),
    "gl" -> (Vector("unha", "máis", "tamén", "xa", "onde", "moi", "alí",
      "despois", "cando", "agora", "aquí", "sempre", "nunca", "teño",
      "miña", "súa", "polo", "pola", "moito", "pouco"),
      Vector("fraga", "aldea", "cabalo", "neve", "serán", "campás",
        "lago", "vento", "folerpa", "promesas", "casa", "camiño", "soño",
        "inverno", "sombra", "farol", "pradeira", "xeada", "son",
        "calma")),
    "mt" -> (Vector("li", "ta", "il", "ma", "kif", "meta", "fejn",
      "ħafna", "ftit", "dejjem", "qatt", "issa", "hawn", "biss", "kien",
      "din", "dan", "jew", "imma", "ukoll"),
      Vector("foresta", "raħal", "żiemel", "silġ", "filgħaxija",
        "qniepen", "għadira", "riħ", "borra", "wegħdiet", "dar", "triq",
        "ngħas", "xitwa", "dell", "fanal", "mergħa", "ġlata", "ħoss",
        "skiet")),
    // round-6 breadth: Uzbek (o'/g' apostrophe orthography), Azerbaijani
    // (ə density), Swahili, Tagalog, Mongolian Cyrillic (ө/ү)
    "uz" -> (Vector("va", "bir", "bu", "uchun", "bilan", "emas", "ham",
      "lekin", "qanday", "hozir", "keyin", "juda", "o'z", "edi", "men",
      "biz", "faqat", "yana", "shu", "chunki"),
      Vector("o'rmon", "qishloq", "ot", "qor", "oqshom", "qo'ng'iroq",
        "ko'l", "shamol", "parcha", "va'dalar", "uy", "yo'l", "uyqu",
        "qish", "soya", "fonar", "o'tloq", "ayoz", "tovush", "sukunat")),
    "az" -> (Vector("və", "bir", "bu", "üçün", "ilə", "deyil", "çox",
      "amma", "necə", "indi", "hər", "mən", "biz", "onlar", "yalnız",
      "artıq", "çünki", "əgər", "lazım", "bütün"),
      Vector("meşə", "kənd", "at", "qar", "axşam", "zənglər", "göl",
        "külək", "dənə", "vədlər", "ev", "yol", "yuxu", "qış", "kölgə",
        "fənər", "çəmən", "şaxta", "səs", "səssizlik")),
    "sw" -> (Vector("na", "ya", "wa", "kwa", "ni", "za", "katika",
      "hii", "yake", "sana", "lakini", "kama", "kwamba", "watu",
      "mimi", "sasa", "hapa", "kila", "kutoka", "pia"),
      Vector("msitu", "kijiji", "farasi", "theluji", "jioni", "kengele",
        "ziwa", "upepo", "kipande", "ahadi", "nyumba", "njia", "usingizi",
        "baridi", "kivuli", "taa", "malisho", "barafu", "sauti",
        "kimya")),
    "tl" -> (Vector("ang", "ng", "mga", "sa", "ay", "ito", "siya",
      "ako", "hindi", "kung", "para", "lang", "naman", "may", "dito",
      "ngayon", "niya", "ko", "natin", "dahil"),
      Vector("gubat", "nayon", "kabayo", "niyebe", "gabi", "kampana",
        "lawa", "hangin", "piraso", "pangako", "bahay", "daan", "tulog",
        "taglamig", "anino", "parol", "parang", "lamig", "tunog",
        "katahimikan")),
    "mn" -> (Vector("нь", "бол", "юм", "байна", "энэ", "тэр", "би",
      "бид", "та", "гэж", "мөн", "одоо", "дараа", "энд", "их", "бага",
      "бүх", "хэзээ", "яагаад", "гэхдээ"),
      Vector("ой", "тосгон", "морь", "цас", "үдэш", "хонх", "нуур",
        "салхи", "ширхэг", "амлалт", "гэр", "зам", "нойр", "өвөл",
        "сүүдэр", "дэнлүү", "нуга", "хүйтэн", "дуу", "чимээгүй")))

  /** One sentence: 6..14 words, ~55% function words, capitalized, period. */
  def sentence(rng: SplittableRandom, lang: String): String = {
    val (fn, content) = pools(lang)
    val n = 6 + rng.nextInt(9)
    val words = (0 until n).map { _ =>
      if (rng.nextInt(100) < 55) fn(rng.nextInt(fn.size))
      else content(rng.nextInt(content.size))
    }
    val s = words.mkString(" ")
    s.substring(0, 1).toUpperCase(Locale.ROOT) + s.substring(1) + "."
  }

  /** One paragraph of `sentences` sentences. */
  def paragraph(rng: SplittableRandom, lang: String, sentences: Int): String =
    (0 until sentences).map(_ => sentence(rng, lang)).mkString(" ")

  /** A short title-like line (3..6 words, Title Case). */
  def titleLine(rng: SplittableRandom, lang: String): String = {
    val (fn, content) = pools(lang)
    val n = 3 + rng.nextInt(4)
    (0 until n).map { k =>
      val w = if (k % 2 == 0) content(rng.nextInt(content.size)) else fn(rng.nextInt(fn.size))
      w.substring(0, 1).toUpperCase(Locale.ROOT) + w.substring(1)
    }.mkString(" ")
  }

  /** Poem-like stanza: `lines` lines of 4..8 words, no trailing period. */
  def stanza(rng: SplittableRandom, lang: String, lines: Int): Vector[String] = {
    val (fn, content) = pools(lang)
    Vector.tabulate(lines) { _ =>
      val n = 4 + rng.nextInt(5)
      (0 until n).map { _ =>
        if (rng.nextInt(100) < 50) fn(rng.nextInt(fn.size))
        else content(rng.nextInt(content.size))
      }.mkString(" ")
    }
  }
}
