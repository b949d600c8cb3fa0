"""Language identification by character-trigram rank profiles
(Cavnar & Trenkle 1994, "N-Gram-Based Text Categorization") — the
canonical corpus-prep stage between crawl extraction and the quality
gates (real pipelines filter by language BEFORE Gopher/C4-style
scoring; cf. plans/corpus.py).

Method, chosen for exact oracle replay: each language's profile is
its top-K trigrams ranked by (count desc, trigram asc) over a seed
text; a document's profile is the same over its own text; the
document-language distance is the Cavnar-Trenkle out-of-place
measure — sum over the doc's profiled trigrams of
|doc_rank - lang_rank|, with a flat K penalty when the trigram is
absent from the language profile. Every quantity is an INTEGER
derived from exact string operations, so Spark and DuckDB agree
bit-for-bit (a log-likelihood scorer would hang the hash gate on
libm last-ulp drift); top-1 language = min distance with
lexicographic tie-break, and the margin (runner-up distance minus
best) is the integer confidence.

Scale shape: profiles are a <= n_langs * K row broadcast table; doc
trigram extraction is one explode (output ~ text length); ranking a
doc's own trigrams is a doc_id-partitioned window (never global);
the scoring join is doc-profile x n_langs with broadcast lookups.
No UDFs anywhere.

Seed texts are plain-ASCII paragraphs written for this module
(normalization strips everything outside [a-z ], so accents are
deliberately omitted; single quotes are omitted so the same literals
embed in oracle SQL unescaped).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: profile depth K — both the per-profile trigram cap and the
#: out-of-place penalty for unprofiled trigrams (Cavnar-Trenkle).
LANGID_K = 300

LANG_SEEDS: dict[str, str] = {
    "en": (
        "the quick brown fox jumps over the lazy dog and the people "
        "said that they would come to the house with their friends "
        "because it was a good day for everyone there and this is what "
        "we know about the things that happen when the world turns and "
        "the water runs down the river to the sea while the children "
        "play in the garden and the old man reads his book under the "
        "tree thinking about the years that have passed and the work "
        "that still needs to be done before the night comes and "
        "everything is quiet again in the small town where nothing "
        "ever changes very much from one day to the next"),
    "de": (
        "der schnelle braune fuchs springt ueber den faulen hund und "
        "die leute sagten dass sie mit ihren freunden zum haus kommen "
        "wuerden weil es ein guter tag fuer alle war und das ist was "
        "wir ueber die dinge wissen die geschehen wenn sich die welt "
        "dreht und das wasser den fluss hinunter ins meer fliesst "
        "waehrend die kinder im garten spielen und der alte mann sein "
        "buch unter dem baum liest und an die jahre denkt die "
        "vergangen sind und an die arbeit die noch getan werden muss "
        "bevor die nacht kommt und alles wieder still ist in der "
        "kleinen stadt in der sich von einem tag auf den anderen nie "
        "viel aendert"),
    "es": (
        "el rapido zorro marron salta sobre el perro perezoso y la "
        "gente dijo que vendria a la casa con sus amigos porque era un "
        "buen dia para todos y esto es lo que sabemos sobre las cosas "
        "que suceden cuando el mundo gira y el agua baja por el rio "
        "hacia el mar mientras los ninos juegan en el jardin y el "
        "viejo lee su libro bajo el arbol pensando en los anos que han "
        "pasado y en el trabajo que todavia queda por hacer antes de "
        "que llegue la noche y todo vuelva a estar tranquilo en el "
        "pequeno pueblo donde nada cambia mucho de un dia para otro"),
    "fr": (
        "le rapide renard brun saute par dessus le chien paresseux et "
        "les gens ont dit quils viendraient a la maison avec leurs "
        "amis parce que cetait une bonne journee pour tout le monde et "
        "cest ce que nous savons des choses qui arrivent quand le "
        "monde tourne et que leau descend la riviere vers la mer "
        "pendant que les enfants jouent dans le jardin et que le vieil "
        "homme lit son livre sous larbre en pensant aux annees qui ont "
        "passe et au travail quil reste a faire avant que la nuit "
        "vienne et que tout redevienne calme dans la petite ville ou "
        "rien ne change jamais beaucoup dun jour a lautre"),
    "it": (
        "la rapida volpe marrone salta sopra il cane pigro e la gente "
        "ha detto che sarebbe venuta a casa con i loro amici perche "
        "era una buona giornata per tutti e questo e cio che sappiamo "
        "delle cose che accadono quando il mondo gira e lacqua scende "
        "lungo il fiume verso il mare mentre i bambini giocano in "
        "giardino e il vecchio legge il suo libro sotto lalbero "
        "pensando agli anni che sono passati e al lavoro che resta da "
        "fare prima che arrivi la notte e tutto torni tranquillo nel "
        "piccolo paese dove niente cambia mai molto da un giorno "
        "allaltro"),
}


#: Unicode script buckets in PRIORITY order — the argmax tie-break
#: (first listed wins on equal counts). Classes are literal codepoint
#: ranges, so the IDENTICAL pattern string runs in Java regex (Spark)
#: and RE2 (DuckDB): both operate per codepoint, and both engines'
#: length() counts codepoints (probed: Cyrillic/Greek/Arabic/Hebrew/
#: Devanagari-with-matras/CJK/kana/Hangul all agree with Python).
#: Ranges: Latin + Latin-1/Extended-A/B; CJK Unified + Ext-A; hiragana
#: + katakana; Hangul syllables + jamo + compat jamo; Cyrillic; Arabic
#: + supplement; Hebrew; Devanagari; Greek + Extended.
SCRIPT_CLASSES: list[tuple[str, str]] = [
    ("latin", "[A-Za-zÀ-ɏ]"),
    ("cjk", "[一-鿿㐀-䶿]"),
    ("kana", "[぀-ゟ゠-ヿ]"),
    ("hangul", "[가-힯ᄀ-ᇿ㄰-㆏]"),
    ("cyrillic", "[Ѐ-ӿ]"),
    ("arabic", "[؀-ۿݐ-ݿ]"),
    ("hebrew", "[֐-׿]"),
    ("devanagari", "[ऀ-ॿ]"),
    ("greek", "[Ͱ-Ͽἀ-῿]"),
]

#: script -> language for scripts that identify a language on their
#: own (the Latin path stays with the trigram profiles; the CJK/kana
#: pair additionally applies the kana-presence rule — ANY kana means
#: Japanese, because Japanese prose mixes kanji with kana while
#: Chinese prose has no kana at all).
SCRIPT_LANGS: dict[str, str] = {
    "cjk": "zh", "kana": "ja", "hangul": "ko", "cyrillic": "ru",
    "arabic": "ar", "hebrew": "he", "devanagari": "hi", "greek": "el",
}

#: held-out per-script sentences (no ASCII apostrophes, so the same
#: literals embed in oracle SQL unescaped) — planted by the gated
#: langid_script query and the property tests. The ja sample is
#: deliberately KANJI-heavy (kanji strictly outnumber kana) so the
#: kana-presence rule, not the argmax, is what routes it to ja.
SCRIPT_SAMPLES: dict[str, str] = {
    "ru": ("и сказали люди что они придут в дом со своими друзьями "
           "потому что это был хороший день для всех"),
    "el": ("και ειπαν οι ανθρωποι οτι θα ερθουν στο σπιτι με τους "
           "φιλους τους γιατι ηταν μια καλη μερα"),
    "ar": "وقال الناس انهم سياتون الى البيت مع اصدقائهم لانه كان يوما جيدا",
    "he": "והאנשים אמרו שהם יבואו הביתה עם חבריהם כי זה היה יום טוב לכולם",
    "hi": ("और लोगों ने कहा कि वे अपने दोस्तों के साथ घर आएंगे क्योंकि "
           "यह सबके लिए अच्छा दिन था"),
    "zh": "人们说他们会和朋友一起来到房子里因为这对每个人来说都是美好的一天",
    "ja": "東京大阪京都名古屋横浜神戸福岡札幌仙台広島は日本の大都市です",
    "ko": "사람들은 친구들과 함께 집에 올 것이라고 말했다 모두에게 좋은 날이었기 때문이다",
}

#: the kana-DOMINANT Japanese variant (argmax alone already says
#: kana -> ja; planted to pin both routes to the same verdict)
SCRIPT_SAMPLE_JA_KANA = "きょうはとてもよいてんきですみんなでこうえんへいきます"


def script_count(col: Column, cls: str) -> Column:
    """Codepoints of ``col`` matching the class — count-by-removal,
    exact in both engines (length() is codepoints in each)."""
    return F.length(col) - F.length(F.regexp_replace(col, cls, ""))


def script_count_sql(col: str, cls: str) -> str:
    """DuckDB dual of script_count."""
    return (f"length({col}) - "
            f"length(regexp_replace({col}, '{cls}', '', 'g'))")


def _with_script_cols(df: DataFrame, id_col: str,
                      text_col: str) -> DataFrame:
    """Internal: stage the per-script counts as NAMED columns (the
    staged-named-columns rule — a when-chain over inline counts would
    re-substitute 9 x 2 regex nodes per branch), then classify:
    adds _c_<script> ints, script (argmax, priority tie-break, 'none'
    when no script chars at all), script_chars (the winning count).
    Scan-local: no joins, no shuffles."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.select(
        F.col(id_col), F.col(text_col),
        *[script_count(c, cls).alias(f"_c_{n}")
          for n, cls in SCRIPT_CLASSES])
    mx = F.greatest(*[F.col(f"_c_{n}") for n, _ in SCRIPT_CLASSES])
    staged = staged.withColumn("_mx", mx)
    script = F.when(F.col("_mx") == 0, F.lit("none"))
    for n, _ in SCRIPT_CLASSES:
        script = script.when(F.col(f"_c_{n}") == F.col("_mx"), F.lit(n))
    return (staged.withColumn("script", script)
            .withColumn("script_chars", F.col("_mx").cast("long")))


def script_lang_expr() -> Column:
    """The non-Latin script -> language verdict (kana-presence rule
    first, then the direct map, 'und' for scriptless rows). Expects
    the _with_script_cols columns in scope."""
    e = F.when(F.col("script").isin("cjk", "kana")
               & (F.col("_c_kana") > 0), F.lit("ja"))
    for s, lng in SCRIPT_LANGS.items():
        e = e.when(F.col("script") == s, F.lit(lng))
    return e.otherwise(F.lit("und"))


def with_script(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id_col, script, script_chars): dominant Unicode script per
    row — argmax of per-script codepoint counts, ties to the
    SCRIPT_CLASSES priority order, 'none' when the text has no script
    characters (NULL included). Pure scan-local expressions."""
    return _with_script_cols(df, id_col, text_col) \
        .select(id_col, "script", "script_chars")


def with_langid_script(df: DataFrame, id_col: str, text_col: str,
                       k: int = LANGID_K,
                       cyrillic_profiles: bool = False,
                       arabic_profiles: bool = False) -> DataFrame:
    """(id_col, script, lang, dist, margin): script-aware language
    identification (VERDICT r14 #1 — the trigram profiles normalize
    to [a-z ], so non-Latin text used to take the no-trigram fallback
    and the crawl gate silently dropped it). Routing: the dominant
    script decides — Latin rows flow to the Cavnar-Trenkle trigram
    profiles (with_langid: lang/dist/margin as before), non-Latin
    rows classify by script directly (kana-presence rule for ja; see
    SCRIPT_LANGS) with dist 0 and margin = winning script codepoint
    count (so margin > 0 gates out only scriptless rows), scriptless
    rows get ('none', 'und', 0, 0). With ``cyrillic_profiles=True``,
    Cyrillic-dominant rows additionally flow through the
    CYRILLIC_SEEDS trigram profiles (ru/uk/bg discrimination — the
    script histogram alone cannot separate languages sharing a
    script) instead of the flat cyrillic->ru map; their dist/margin
    are then trigram quantities like the Latin branch's.
    ``arabic_profiles=True`` does the same for Arabic-dominant rows
    through ARABIC_SEEDS (ar/fa/ur) instead of the flat arabic->ar
    map.

    Scale shape: the script stage is scan-local named-column
    expressions; the per-script branches are FILTERS on those columns
    (no join back), so the only shuffles remain the trigram paths'
    doc-partitioned profile builds — unchanged from with_langid."""
    staged = _with_script_cols(df.select(id_col, text_col),
                               id_col, text_col)
    # lineage barrier (the _staged_argmin rule, PERFORMANCE.md #30):
    # the branch FILTERS below would otherwise push through the
    # projection and CollapseProject re-substitutes the count/argmax
    # chain into every reference — ~90 regex nodes per filter, which
    # overflows janino's 64 KB method limit on planted when-chain
    # inputs and falls back to interpreted row eval (measured: the
    # gated query went 104 s -> seconds at sf0.1 with the barrier)
    staged = staged.localCheckpoint(eager=False)
    non_scripts = F.col("script") != "latin"
    if cyrillic_profiles:
        non_scripts = non_scripts & (F.col("script") != "cyrillic")
    if arabic_profiles:
        non_scripts = non_scripts & (F.col("script") != "arabic")
    non = (staged.filter(non_scripts)
           .select(id_col, "script", script_lang_expr().alias("lang"),
                   F.lit(0).cast("long").alias("dist"),
                   F.col("script_chars").alias("margin")))
    lat = staged.filter(F.col("script") == "latin") \
        .select(id_col, text_col)
    lat_out = with_langid(lat, id_col, text_col, k) \
        .select(id_col, F.lit("latin").alias("script"),
                "lang", "dist", "margin")
    out = lat_out.unionByName(non)
    if cyrillic_profiles:
        cyr = staged.filter(F.col("script") == "cyrillic") \
            .select(id_col, text_col)
        cyr_out = with_langid(cyr, id_col, text_col, k,
                              seeds=CYRILLIC_SEEDS,
                              norm=langid_norm_cyrillic) \
            .select(id_col, F.lit("cyrillic").alias("script"),
                    "lang", "dist", "margin")
        out = out.unionByName(cyr_out)
    if arabic_profiles:
        ara = staged.filter(F.col("script") == "arabic") \
            .select(id_col, text_col)
        ara_out = with_langid(ara, id_col, text_col, k,
                              seeds=ARABIC_SEEDS,
                              norm=langid_norm_arabic) \
            .select(id_col, F.lit("arabic").alias("script"),
                    "lang", "dist", "margin")
        out = out.unionByName(ara_out)
    return out


#: Cyrillic-script seed paragraphs — the per-script profile set that
#: discriminates WITHIN the Cyrillic script (the script histogram can
#: only say "cyrillic"; ru/uk/bg need trigram profiles over a
#: Cyrillic normalization). Same authoring rules as LANG_SEEDS: plain
#: paragraphs written for this module, no apostrophes (Ukrainian
#: words with apostrophes are deliberately avoided), so the literals
#: embed in oracle SQL unescaped.
CYRILLIC_SEEDS: dict[str, str] = {
    "ru": (
        "быстрая коричневая лиса прыгает через ленивую собаку и люди "
        "сказали что они придут в дом со своими друзьями потому что "
        "это был хороший день для всех и вот что мы знаем о вещах "
        "которые происходят когда мир вращается и вода бежит вниз по "
        "реке к морю пока дети играют в саду и старик читает свою "
        "книгу под деревом думая о годах которые прошли и о работе "
        "которую еще нужно сделать прежде чем наступит ночь и все "
        "снова станет тихо в маленьком городе где ничто никогда не "
        "меняется от одного дня к другому"),
    "uk": (
        "швидка коричнева лисиця стрибає через ледачого пса і люди "
        "казали що вони прийдуть до будинку зі своїми друзями бо це "
        "був гарний день для всіх і ось що ми знаємо про речі які "
        "відбуваються коли світ обертається і вода біжить вниз рікою "
        "до моря поки діти граються в саду і старий чоловік читає "
        "свою книгу під деревом думаючи про роки що минули і про "
        "роботу яку ще треба зробити перш ніж настане ніч і все знову "
        "стане тихо в маленькому місті де ніщо ніколи не змінюється "
        "від одного дня до іншого"),
    "bg": (
        "бързата кафява лисица скача през мързеливото куче и хората "
        "казаха че ще дойдат в къщата със своите приятели защото беше "
        "хубав ден за всички и ето какво знаем за нещата които се "
        "случват когато светът се върти и водата тече надолу по "
        "реката към морето докато децата играят в градината и "
        "старецът чете своята книга под дървото мислейки за годините "
        "които са минали и за работата която още трябва да се свърши "
        "преди да настъпи нощта и всичко отново стане тихо в малкия "
        "град където нищо никога не се променя от един ден на друг"),
}


#: Arabic-script seed paragraphs — ar/fa/ur discrimination within the
#: Arabic script (the script histogram can only say "arabic"; Persian
#: and Urdu share the base alphabet but add their own letters and very
#: different function-word trigrams). Same authoring rules as
#: LANG_SEEDS: plain paragraphs written for this module, no
#: apostrophes (Arabic-script text has none), no ZWNJ (the Persian
#: half-space is written as a plain space so normalization is pure
#: keep-class stripping).
ARABIC_SEEDS: dict[str, str] = {
    "ar": (
        "الثعلب البني السريع يقفز فوق الكلب الكسول وقال الناس انهم "
        "سياتون الى البيت مع اصدقائهم لانه كان يوما جيدا للجميع وهذا "
        "ما نعرفه عن الاشياء التي تحدث عندما يدور العالم ويجري الماء "
        "في النهر الى البحر بينما يلعب الاطفال في الحديقة ويقرا الرجل "
        "العجوز كتابه تحت الشجرة وهو يفكر في السنين التي مضت وفي "
        "العمل الذي ما زال يجب ان ينجز قبل ان ياتي الليل ويعود كل شيء "
        "هادئا في البلدة الصغيرة حيث لا يتغير شيء كثيرا من يوم الى اخر"),
    "fa": (
        "روباه قهوه ای تند از روی سگ تنبل می پرد و مردم گفتند که با "
        "دوستان خود به خانه خواهند امد چون روز خوبی برای همه بود و "
        "این چیزی است که ما درباره چیزهایی می دانیم که رخ می دهند "
        "وقتی جهان می چرخد و اب در رودخانه به سوی دریا می رود در "
        "حالی که کودکان در باغ بازی می کنند و پیرمرد کتاب خود را زیر "
        "درخت می خواند و به سال هایی که گذشته اند و به کاری که هنوز "
        "باید انجام شود فکر می کند پیش از ان که شب بیاید و همه چیز "
        "دوباره در شهر کوچکی که هیچ چیز در ان از روزی به روز دیگر "
        "تغییر نمی کند ارام شود"),
    "ur": (
        "تیز بھوری لومڑی سست کتے کے اوپر چھلانگ لگاتی ہے اور لوگوں "
        "نے کہا کہ وہ اپنے دوستوں کے ساتھ گھر ائیں گے کیونکہ یہ سب "
        "کے لیے اچھا دن تھا اور یہ وہ ہے جو ہم ان چیزوں کے بارے میں "
        "جانتے ہیں جو اس وقت ہوتی ہیں جب دنیا گھومتی ہے اور پانی "
        "دریا میں بہتا ہوا سمندر کی طرف جاتا ہے جب کہ بچے باغ میں "
        "کھیلتے ہیں اور بوڑھا ادمی درخت کے نیچے اپنی کتاب پڑھتا ہے "
        "اور ان سالوں کے بارے میں سوچتا ہے جو گزر گئے اور اس کام کے "
        "بارے میں جو ابھی کرنا باقی ہے اس سے پہلے کہ رات اجائے اور "
        "سب کچھ پھر اس چھوٹے شہر میں خاموش ہو جائے جہاں کچھ بھی ایک "
        "دن سے دوسرے دن تک زیادہ نہیں بدلتا"),
}


#: the Latin keep-class: ASCII lowercase only, so accented letters
#: strip to spaces in both engines.
_LAT_KEEP = "a-z"


def langid_norm(col: Column) -> Column:
    """lowercase -> strip to [a-z ] -> collapse runs -> trim: the
    canonical form both profiles and documents are trigrammed from.
    Mirrors langid_norm_sql exactly (strip AFTER lower, so any
    engine-specific unicode lowering lands on characters the strip
    removes either way)."""
    s = F.regexp_replace(F.lower(col), f"[^{_LAT_KEEP} ]", " ")
    return F.trim(F.regexp_replace(s, " +", " "))


def langid_norm_sql(col: str) -> str:
    """DuckDB dual of langid_norm (RE2 needs the explicit g flag)."""
    return (f"trim(regexp_replace(regexp_replace(lower({col}), "
            f"'[^{_LAT_KEEP} ]', ' ', 'g'), ' +', ' ', 'g'))")


#: the Cyrillic keep-class: а-я covers Russian/Bulgarian lowercase
#: (incl. ъ/ь/щ/ю/я); ё (ru) and і/ї/є/ґ (uk) sit outside that block.
#: Both engines lowercase Cyrillic identically (simple 1:1 case maps).
_CYR_KEEP = "а-яёєіїґ"


def langid_norm_cyrillic(col: Column) -> Column:
    """Cyrillic dual of langid_norm: lowercase -> strip to the
    Cyrillic keep-class -> collapse runs -> trim."""
    s = F.regexp_replace(F.lower(col), f"[^{_CYR_KEEP} ]", " ")
    return F.trim(F.regexp_replace(s, " +", " "))


def langid_norm_cyrillic_sql(col: str) -> str:
    """DuckDB dual of langid_norm_cyrillic."""
    return (f"trim(regexp_replace(regexp_replace(lower({col}), "
            f"'[^{_CYR_KEEP} ]', ' ', 'g'), ' +', ' ', 'g'))")


#: the Arabic keep-class: ء-ي covers the base Arabic letters
#: (U+0621-064A incl. hamza/alef forms); the extras are the Persian
#: letters (پ چ ژ گ), the shared Perso-Urdu ک/ی, and the Urdu set
#: (ٹ ڈ ڑ ں ھ ہ ے) — presence/absence of these letters is itself a
#: strong ar/fa/ur signal, on top of the function-word trigrams.
#: Harakat (U+064B-0652), tatweel, and Arabic-Indic digits all fall
#: outside the class and strip. Arabic script has no case, so lower()
#: is identity in both engines (kept for symmetry with the other
#: normalizers).
_AR_KEEP = "ء-يپچژگکٹڈڑںھہیے"


def langid_norm_arabic(col: Column) -> Column:
    """Arabic dual of langid_norm: lowercase (identity) -> strip to
    the Arabic keep-class -> collapse runs -> trim."""
    s = F.regexp_replace(F.lower(col), f"[^{_AR_KEEP} ]", " ")
    return F.trim(F.regexp_replace(s, " +", " "))


def langid_norm_arabic_sql(col: str) -> str:
    """DuckDB dual of langid_norm_arabic."""
    return (f"trim(regexp_replace(regexp_replace(lower({col}), "
            f"'[^{_AR_KEEP} ]', ' ', 'g'), ' +', ' ', 'g'))")


#: Python strip-class twin per registered normalizer — feeds the
#: plan-build-time seed-profile derivation (seed_profiles); a norm
#: not listed here falls back to the in-plan derivation.
_PY_NORM_STRIP = {
    langid_norm: f"[^{_LAT_KEEP} ]",
    langid_norm_cyrillic: f"[^{_CYR_KEEP} ]",
    langid_norm_arabic: f"[^{_AR_KEEP} ]",
}


def trigram_array(col: Column) -> Column:
    """All character trigrams of an ALREADY-NORMALIZED string as an
    array (empty below length 3 — explicit guard, because Spark
    sequence() counts DOWN when stop < start). Callers should pass a
    NAMED column, not a deep expression — the array references its
    input at every element (the staged-named-columns rule)."""
    n = F.length(col)
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)) \
        .otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: col.substr(i, F.lit(3)))


def trigrams_sql(col: str) -> str:
    """DuckDB dual of trigram_array."""
    return (f"CASE WHEN length({col}) >= 3 THEN "
            f"list_transform(range(1, length({col}) - 1), "
            f"i -> substr({col}, CAST(i AS INT), 3)) "
            f"ELSE [] END")


def seed_profiles(spark: SparkSession, k: int = LANGID_K,
                  seeds: dict[str, str] | None = None,
                  norm=langid_norm) -> DataFrame:
    """(lang, tri, rl) — each seed language's top-k trigram ranks.

    r16 optimization (guide §1.2 "don't compute things you throw
    away"): the profile table is a pure function of module literals,
    so it is derived at PLAN-BUILD time in Python and shipped as a
    literal DataFrame — the r15 shape re-derived it in-plan on every
    invocation, paying an explode + groupBy + ranking-window subtree
    (two extra shuffle stages) per langid query and per crawl-gate
    stage. Ranking semantics are identical (count desc, trigram asc;
    Python's per-codepoint string compare matches Spark's UTF8
    binary order because UTF-8 byte order IS codepoint order) and
    the seed literals are already lowercase, so lower() diverges
    nowhere; test_corpus_ops pins the Python rows against the
    in-plan derivation for all three seed sets. The oracle still
    derives profiles in SQL from the identical literals, so the
    engines cannot drift. <= n_langs * k rows; broadcast by
    construction. ``seeds``/``norm`` default to the Latin profile
    set (LANG_SEEDS + langid_norm); pass CYRILLIC_SEEDS +
    langid_norm_cyrillic for the within-Cyrillic profiles. A caller
    passing a norm without a registered Python twin falls back to
    the in-plan derivation."""
    seed_map = LANG_SEEDS if seeds is None else seeds
    strip = _PY_NORM_STRIP.get(norm)
    if strip is None:  # custom normalizer: derive in-plan as before
        return seed_profiles_inplan(spark, k, seeds=seed_map, norm=norm)
    rows = []
    for lang in sorted(seed_map):
        s = _py_norm(seed_map[lang], strip)
        counts: dict[str, int] = {}
        for i in range(len(s) - 2):
            t = s[i:i + 3]
            counts[t] = counts.get(t, 0) + 1
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        rows.extend((lang, t, r + 1) for r, (t, _) in enumerate(top))
    return spark.createDataFrame(rows, "lang string, tri string, rl int")


def _py_norm(s: str, strip_cls: str) -> str:
    """Python twin of the langid_norm* column expressions: lowercase
    -> strip to the keep-class -> collapse runs -> trim."""
    import re as _re

    return _re.sub(" +", " ", _re.sub(strip_cls, " ", s.lower())).strip()


def seed_profiles_inplan(spark: SparkSession, k: int = LANGID_K,
                         seeds: dict[str, str] | None = None,
                         norm=langid_norm) -> DataFrame:
    """The r15 in-plan derivation (explode + count + ranking window
    over the seed literals) — kept as the reference implementation
    the literal path is property-pinned against, and as the fallback
    for custom normalizers."""
    from pyspark.sql.window import Window as W

    seed_map = LANG_SEEDS if seeds is None else seeds
    seeds_df = spark.createDataFrame(sorted(seed_map.items()),
                                     "lang string, seed string")
    norm_df = seeds_df.select("lang", norm(F.col("seed")).alias("_s"))
    tri = norm_df.select(
        "lang", F.explode(trigram_array(F.col("_s"))).alias("tri"))
    counts = tri.groupBy("lang", "tri").agg(F.count(F.lit(1)).alias("c"))
    w = W.partitionBy("lang").orderBy(F.desc("c"), F.asc("tri"))
    return (counts.withColumn("rl", F.row_number().over(w))
            .filter(F.col("rl") <= k).drop("c"))


def with_langid(df: DataFrame, id_col: str, text_col: str,
                k: int = LANGID_K,
                seeds: dict[str, str] | None = None,
                norm=langid_norm) -> DataFrame:
    """(id_col, lang, dist, margin): Cavnar-Trenkle classification of
    each row's text against the seed profiles (``seeds``/``norm``
    default to the Latin set; pass CYRILLIC_SEEDS +
    langid_norm_cyrillic to discriminate ru/uk/bg within the Cyrillic
    script). lang is the min-distance language (ties broken
    lexicographically); margin = runner-up distance - best distance
    (0 on a tie; larger = more confident). Rows whose normalized text
    has no trigrams get the documented fallback: first language
    alphabetically, dist 0, margin 0."""
    from pyspark.sql.window import Window as W

    seed_map = LANG_SEEDS if seeds is None else seeds
    spark = df.sparkSession
    profs = seed_profiles(spark, k, seeds=seed_map, norm=norm)

    # Shuffle the slim (id, text) rows ONCE, keyed on the doc id,
    # BEFORE the normalize/explode work (r15 optimization round,
    # guide §2.1 "shuffle fewer bytes"): hashpartitioning(id)
    # satisfies the clustering every downstream operator needs —
    # groupBy(id, tri), the ranking window over id, groupBy(id, lang)
    # and groupBy(id) — so the ~1000x-larger exploded trigram frames
    # never hit an Exchange (the _before plan shuffled them twice).
    # Normalization runs AFTER the exchange so its regex CPU rides
    # the shuffled parallelism even when the input is one parquet
    # row group (the spread() rationale in queries/_util.td). The
    # partition count is explicit (an unnumbered repartition is
    # AQE-coalescible, and ~MBs of text would coalesce to ONE
    # partition, serializing the explode CPU); it derives from
    # cluster width and input size, not a local constant.
    from ..session import default_parallelism
    n_part = max(default_parallelism(), df.rdd.getNumPartitions())
    norm_df = (df.select(F.col(id_col), F.col(text_col))
               .repartition(n_part, F.col(id_col))
               .select(F.col(id_col), norm(F.col(text_col))
                       .alias("_s")))
    doc_tri = norm_df.select(
        id_col, F.explode(trigram_array(F.col("_s"))).alias("tri"))
    dcounts = doc_tri.groupBy(id_col, "tri") \
        .agg(F.count(F.lit(1)).alias("c"))
    wd = W.partitionBy(id_col).orderBy(F.desc("c"), F.asc("tri"))
    dprof = (dcounts.withColumn("rd", F.row_number().over(wd))
             .filter(F.col("rd") <= k).drop("c"))

    # The out-of-place distance decomposes as
    #   dist(d, l) = sum_{t in dprof(d) ∩ prof(l)} |rd - rl|
    #              + k * (|dprof(d)| - |dprof(d) ∩ prof(l)|)
    #              = k * |dprof(d)| - bonus(d, l),
    #   bonus(d, l) = sum_{t in dprof(d) ∩ prof(l)} (k - |rd - rl|) > 0
    # so scoring is ONE broadcast join on trigram plus per-doc
    # arithmetic — not a doc-profile x n_langs cross join (measured
    # ~n_langs x fewer intermediate rows; identical integer results,
    # same oracle). The join is LEFT so |dprof(d)| rides the same
    # chain as max(rd) (row_number is dense, so max = count) and the
    # profile subtree has exactly ONE consumer — the r14 shape
    # recomputed it per consumer (or checkpointed it, which under AQE
    # loses the partitioning and reintroduces three Exchanges).
    # Ranking by (dist asc, lang asc) is, per doc, ranking by
    # (-bonus asc, lang asc) — a sort over <= n_langs array elements,
    # so best/runner-up come from one fold instead of a rank window
    # plus two filter-and-rejoin passes over the scored frame.
    joined = dprof.join(F.broadcast(profs), "tri", "left")
    g1 = (joined.groupBy(id_col, "lang")
          .agg(F.max("rd").alias("_mx"),
               (F.lit(k) * F.count("rl")
                - F.coalesce(F.sum(F.abs(F.col("rd") - F.col("rl"))),
                             F.lit(0))).alias("_b")))
    g2 = (g1.groupBy(id_col)
          .agg(F.max("_mx").alias("_n_d"),
               F.collect_list(
                   F.when(F.col("lang").isNotNull(),
                          F.struct((-F.col("_b")).alias("nb"),
                                   F.col("lang").alias("lang"))))
               .alias("_es")))
    # pad with zero-bonus entries for languages the doc matched no
    # trigrams of (the cross-join form scored them at dist = k*n_d)
    pad = F.array(*[F.struct(F.lit(0).cast("long").alias("nb"),
                             F.lit(lng).alias("lang"))
                    for lng in sorted(seed_map)])
    es = F.col("_es")
    cand = F.array_sort(F.concat(
        es, F.filter(pad, lambda p: ~F.exists(
            es, lambda m: m["lang"] == p["lang"]))))
    e1, e2 = F.element_at(cand, 1), F.element_at(cand, 2)
    out = g2.select(id_col, e1["lang"].alias("lang"),
                    (F.lit(k) * F.col("_n_d") + e1["nb"])
                    .cast("long").alias("dist"),
                    (e2["nb"] - e1["nb"]).cast("long").alias("margin"))
    # docs with NO trigrams never enter dprof; re-attach them with the
    # documented fallback so every input row gets a verdict. One LEFT
    # join from the slim id spine with coalesced fallback values —
    # not a union + anti-join, which would consume `out` twice and
    # either recompute the whole explode chain or need a lineage
    # barrier that hides the plan. `out` is already clustered on id,
    # so only the spine side exchanges. NULL text has no trigrams, so
    # it lands on the fallback exactly as the old `_s IS NULL` arm
    # did.
    return (df.select(id_col)
            .join(out, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("lang"),
                               F.lit(sorted(seed_map)[0])).alias("lang"),
                    F.coalesce(F.col("dist"),
                               F.lit(0).cast("long")).alias("dist"),
                    F.coalesce(F.col("margin"),
                               F.lit(0).cast("long")).alias("margin")))
