"""Symbol lexicon for name analysis (T3) and symbolic name matching (C1).

The reference tags name parts with cultural symbols via rigour's data
tables (``nomenklatura/matching/logic_v2/names/analysis.py:13-31``,
``magic.py:8-63``) and the blocker emits ``sy:<category>:<id>`` tokens for
them (``nomenklatura/blocker/tokenizer.py:71-76``).  rigour's full tables
are a large cultural dataset this engine does not bundle; this module
re-expresses the *mechanism* with a compact, public lexicon:

- ``org`` (ORG_CLASS): legal-form tokens folded to a canonical class, so
  "limited"~"ltd" and "ooo"~"llc" pair symbolically.
- ``sym`` (SYMBOL): generic corporate vocabulary and its abbreviations
  ("international"~"intl", "group"~"grp").  Deliberately weak evidence
  (weight 0.3): "A B International" vs "X International" share it.
- ``dom`` (DOMAIN): industry-domain words ("medical", "casino") — a
  stronger signal than generic vocabulary (weight 0.7).
- ``num`` (NUMERIC): digits (incl. ordinal suffixes), roman numerals and
  number words, folded to the integer value: "Vessel 2"~"Vessel II".
  Weight 1.3 — "Vessel 1" vs "Vessel 2" are very different.
- ``nick`` (NICK): common given-name hypocorisms folded to the formal
  name ("bill"~"william").  Score 0.6 — a nickname pairing is real but
  weaker evidence than a literal/fuzzy surface match.
- INITIAL is structural (single letter vs. part initial), not a lexicon
  entry — handled directly in the matcher.

LOCATION symbols (reference weight 0.8) need a geographic gazetteer and
are not modelled; documented deviation (COVERAGE.md §2.3/§2.8).

Category scores/weights mirror the reference's tables
(``magic.py:SYM_SCORES/SYM_WEIGHTS/EXTRAS_WEIGHTS``).
"""

from __future__ import annotations

import re

# (score, weight) per category when a symbol pairs two name parts;
# extras weight applies when the symbol-tagged part is unmatched.
SYM_SCORES = {
    "org": 0.8,
    "init": 0.9,
    "nick": 0.6,
    "sym": 0.9,
    "dom": 0.9,
    "num": 0.9,
    "name": 0.9,  # given-name transliteration variants (reference NAME cat)
    "part": 0.9,  # name particles (bin/ibn, von/van, de/da)
    "loc": 0.9,  # LOCATION symbols (compact public gazetteer)
}
SYM_WEIGHTS = {
    "org": 0.7,
    "init": 0.5,
    "nick": 0.8,
    "sym": 0.3,
    "dom": 0.7,
    "num": 1.3,
    "name": 1.0,
    "part": 0.5,
    "loc": 0.8,
}
EXTRAS_WEIGHTS = {"org": 0.7, "sym": 0.7, "num": 1.3, "loc": 0.8}

# --- org classes: token -> canonical class ---------------------------------

_ORG_CLASSES: dict[str, list[str]] = {
    # one "limited liability" concept class: the frozen logic_v2 run pairs
    # "construction ltd" ~ "LLC CONSTRUCTION ..." at the ORG_CLASS score
    "ltd": ["ltd", "limited", "lda", "llc", "lc", "ooo", "sdn", "bhd", "sl"],
    "llp": ["llp"],
    "lp": ["lp"],
    "inc": ["inc", "incorporated"],
    "plc": ["plc"],
    "ag": ["ag", "aktiengesellschaft"],
    "gmbh": ["gmbh", "mbh"],
    "sa": ["sa"],
    "sarl": ["sarl"],
    "sas": ["sas"],
    "srl": ["srl"],
    "spa": ["spa"],
    "bv": ["bv", "bvba"],
    "nv": ["nv"],
    "oy": ["oy"],
    "ab": ["ab"],
    "as": ["as"],
    "kg": ["kg"],
    "kgaa": ["kgaa"],
    "ug": ["ug"],
    # The whole joint-stock family shares one class: the frozen logic_v2
    # run pairs "OAO Gazprom" ~ "Gazprom JSC" at the ORG_CLASS score.
    "jsc": ["jsc", "ao", "ojsc", "oao", "cjsc", "zao", "pjsc", "pao"],
    "pt": ["pt"],
    "pte": ["pte"],
    "pty": ["pty"],
}

# --- generic corporate vocabulary: token -> group --------------------------

_SYMBOL_GROUPS: dict[str, list[str]] = {
    # weight-0.3 generic corporate vocabulary.  "company"/"co" live here,
    # not in org classes: the frozen logic_v2 run scores an equal
    # "Company" at weight 0.3 (CDE Company vs A.B.C. Company = 0.3/1.3).
    # Membership is fitted per-token against the frozen run: "global" /
    # "solutions" / "development" / "engineering" are ordinary literals
    # there ("Bowne Global Solutions ..." pairs at full weight), while
    # "general" / "trust" / "capital" / "partners" ARE down-weighted
    # symbols (per-token ablation against the frozen run).
    "company": ["company", "co", "corp", "corporation", "cia", "cie",
                "kompaniya"],
    "foundation": ["foundation", "stiftung", "fond", "fondation",
                   "fundacion"],
    "trust": ["trust"],
    "association": ["association", "assn", "verein", "asociacion"],
    "cooperative": ["cooperative", "coop"],
    "international": ["international", "intl"],
    "technology": ["technology", "technologies", "tech"],
    "group": ["group", "grp", "gruppe", "groupe", "grupo"],
    "holding": ["holding", "holdings"],
    "industries": ["industries", "industrial"],
    "services": ["services", "service", "svcs"],
    "systems": ["systems", "system"],
    "management": ["management", "mgmt"],
    "investment": ["investment", "investments"],
    "enterprise": ["enterprise", "enterprises"],
    "trading": ["trading"],
    "national": ["national", "natl"],
    "general": ["general"],
    "manufacturing": ["manufacturing", "mfg"],
    "plant": ["plant", "zavod", "fabrika", "factory"],
    "laboratories": ["laboratories", "labs"],
    "brothers": ["brothers", "bros"],
    "department": ["department", "dept"],
    "government": ["government", "govt"],
    "saint": ["saint", "st"],
    "mount": ["mount", "mt"],
    "fund": ["fund", "funds"],
    "capital": ["capital"],
    "partners": ["partners"],
    "consulting": ["consulting", "consultants"],
    "properties": ["properties", "property"],
}

# --- industry domains ------------------------------------------------------

_DOMAINS: dict[str, list[str]] = {
    "medical": ["medical", "healthcare", "clinic", "hospital"],
    "pharma": ["pharmaceuticals", "pharmaceutical", "pharma"],
    "casino": ["casino", "gaming"],
    # oil and gas are distinct businesses — the frozen run scores "Saudi
    # Arabian Gas Company" vs "... Oil Company" as a plain mismatch
    "petroleum": ["petroleum", "oil"],
    "gas": ["gas"],
    "energy": ["energy", "power", "electric"],
    "airlines": ["airlines", "airways", "aviation"],
    "shipping": ["shipping", "maritime"],
    "insurance": ["insurance", "assurance"],
    "construction": ["construction"],
    "mining": ["mining"],
    "steel": ["steel"],
    "telecom": ["telecom", "telecommunications"],
    "media": ["media"],
    "hotel": ["hotel", "hotels"],
    "defense": ["defense", "defence"],
    "agriculture": ["agriculture", "agro"],
    "textile": ["textile", "textiles"],
    "automotive": ["automotive", "motors"],
    "electronics": ["electronics"],
    "logistics": ["logistics", "transport", "transportation"],
}

# --- numerics: number words and roman numerals -> integer value ------------
# Single-letter romans (i, v, x, ...) are excluded: they collide with
# initials, which the reference resolves via span context we don't model.

_NUM_WORDS = {
    "one": 1, "two": 2, "three": 3, "four": 4, "five": 5, "six": 6,
    "seven": 7, "eight": 8, "nine": 9, "ten": 10, "eleven": 11,
    "twelve": 12, "thirteen": 13, "fourteen": 14, "fifteen": 15,
    "sixteen": 16, "seventeen": 17, "eighteen": 18, "nineteen": 19,
    "twenty": 20, "thirty": 30, "forty": 40, "fifty": 50, "hundred": 100,
    "first": 1, "second": 2, "third": 3, "fourth": 4, "fifth": 5,
    "sixth": 6, "seventh": 7, "eighth": 8, "ninth": 9, "tenth": 10,
    "eleventh": 11, "twelfth": 12,
    "ii": 2, "iii": 3, "iv": 4, "vi": 6, "vii": 7, "viii": 8, "ix": 9,
    "xi": 11, "xii": 12, "xiii": 13, "xiv": 14, "xv": 15, "xvi": 16,
    "xvii": 17, "xviii": 18, "xix": 19, "xx": 20,
}

# --- nicknames: hypocorism -> formal given name ----------------------------

_NICKNAMES: dict[str, list[str]] = {
    "william": ["bill", "billy", "will", "willy", "liam"],
    "robert": ["bob", "bobby", "rob", "robbie", "robby"],
    "richard": ["dick", "rick", "ricky", "rich", "richie"],
    "james": ["jim", "jimmy", "jamie"],
    "john": ["jack", "johnny", "jon"],
    "michael": ["mike", "mikey", "misha"],
    "elizabeth": ["liz", "lizzie", "beth", "betty", "betsy", "eliza", "lisa"],
    "katherine": ["kate", "katie", "kathy", "katya", "kitty", "catherine"],
    "alexander": ["alex", "sasha"],
    "anthony": ["tony"],
    "andrew": ["andy", "drew"],
    "thomas": ["tom", "tommy"],
    "christopher": ["chris"],
    "daniel": ["dan", "danny"],
    "david": ["dave", "davey"],
    "edward": ["ed", "eddie", "ned"],
    "theodore": ["ted", "teddy"],
    "francis": ["frank", "frankie"],
    "frederick": ["fred", "freddie"],
    "gregory": ["greg"],
    "henry": ["harry", "hank", "hal"],
    "joseph": ["joe", "joey"],
    "kenneth": ["ken", "kenny"],
    "lawrence": ["larry"],
    "matthew": ["matt", "matty"],
    "nicholas": ["nick", "nicky", "kolya"],
    "patrick": ["pat"],
    "peter": ["pete", "petya"],
    "ronald": ["ron", "ronnie"],
    "samuel": ["sam", "sammy"],
    "stephen": ["steve", "stevie", "steven"],
    "vincent": ["vince", "vinny"],
    "walter": ["walt", "wally"],
    "raymond": ["ray"],
    "eugene": ["gene"],
    "gerald": ["jerry"],
    "jeffrey": ["jeff"],
    "joshua": ["josh"],
    "zachary": ["zach", "zack"],
    "benjamin": ["ben", "benny"],
    "abraham": ["abe"],
    "arthur": ["art", "artie"],
    "bernard": ["bernie"],
    "charles": ["charlie", "chuck"],
    "donald": ["don", "donnie"],
    "douglas": ["doug"],
    "herbert": ["herb"],
    "louis": ["lou", "louie"],
    "martin": ["marty"],
    "melvin": ["mel"],
    "norman": ["norm"],
    "philip": ["phil"],
    "russell": ["russ"],
    "sidney": ["sid"],
    "stanley": ["stan"],
    "stuart": ["stu"],
    "timothy": ["tim", "timmy"],
    "tobias": ["toby"],
    "wesley": ["wes"],
    "margaret": ["peggy", "meg", "maggie", "marge", "margie"],
    "mary": ["molly", "polly"],
    "sarah": ["sally"],
    "anne": ["nancy", "annie", "nan"],
    "susan": ["sue", "susie", "suzy"],
    "patricia": ["trish", "tricia"],
    "victoria": ["vicky"],
    "amanda": ["mandy"],
    "cynthia": ["cindy"],
    "deborah": ["debbie", "deb"],
    "jennifer": ["jen", "jenny"],
    "jessica": ["jess", "jessie"],
    "kimberly": ["kim"],
    "rebecca": ["becky"],
    "angela": ["angie"],
    "barbara": ["barb"],
    "constance": ["connie"],
    "dorothy": ["dot", "dottie"],
    "frances": ["fran"],
    "virginia": ["ginny"],
    "pamela": ["pam"],
    "vladimir": ["vova", "volodya"],
    "ivan": ["vanya"],
    "dmitry": ["dima"],
    "natalia": ["natasha"],
    "olga": ["olya"],
    "tatiana": ["tanya"],
    "yevgeny": ["zhenya"],
    "boris": ["borya"],
    "grigory": ["grisha"],
    "pavel": ["pasha"],
    "yuri": ["yura"],
    "jose": ["pepe"],
    "francisco": ["paco", "pancho"],
    "dolores": ["lola"],
    "guillermo": ["memo"],
    "ignacio": ["nacho"],
}


# --- given-name transliteration variants (reference NAME category) ---------
# Spelling/romanisation variants of the same given name (NOT hypocorisms —
# those are NICK).  Score 0.9, weight 1.0: "Usama bin Ladin"~"Osama bin
# Laden" pairs usama~osama at 0.9 in the frozen logic_v2 run.

_NAME_GROUPS: dict[str, list[str]] = {
    "mohammed": ["mohammed", "mohammad", "muhammad", "muhammed", "mohamed",
                 "mohamad", "muhamad", "mehmed", "mukhammed"],
    "osama": ["osama", "usama", "oussama", "ousama"],
    "hussein": ["hussein", "husain", "hussain", "husayn", "husein"],
    "abdullah": ["abdullah", "abdallah", "abdulla", "abdallah"],
    "ahmed": ["ahmed", "ahmad", "akhmed", "akhmad", "ahmet"],
    "ali": ["ali", "aly"],
    "yusuf": ["yusuf", "yousef", "youssef", "yosef", "yusup"],
    "ibrahim": ["ibrahim", "ebrahim", "ibragim"],
    "khaled": ["khaled", "khalid", "halid"],
    "said": ["said", "sayid", "sayyid", "saeed", "seyid"],
    "qaddafi": ["qaddafi", "gaddafi", "gadhafi", "kadhafi", "qadhafi"],
    "qaeda": ["qaeda", "qaida", "qaidah", "qaeda"],
    "aleksandr": ["alexander", "aleksandr", "alexandr", "oleksandr",
                  "aliaksandr", "iskandar", "alexandre", "alejandro",
                  "alessandro", "aleksander"],
    "sergei": ["sergei", "sergey", "serhii", "serhiy", "siarhei", "serguei",
               "sergej", "sergejs"],
    "xi": ["xi", "shi", "hsi", "si"],
    "vladimir": ["vladimir", "wladimir", "uladzimir", "volodymyr",
                 "volodimir", "wolodymyr", "valdimir", "vladimiras",
                 "vlagyimir", "vlantimir", "beulradimireu", "urajiimiru",
                 "fladymyr", "fladmyr", "wladymyr", "vldymyr",
                 "弗拉基米尔", "bladimiya"],
    "putin": ["putin", "poutine", "poetin", "putyin", "putinas", "putins",
              "putsin", "povtin", "poytin", "puuchin", "putina", "pwtyn",
              "pvtyn", "bwtyn", "bwtn", "putn", "普京"],
    "dmitry": ["dmitry", "dmitri", "dmitrii", "dmitriy", "dmytro", "dzmitry"],
    "andrei": ["andrei", "andrey", "andrii", "andriy", "andrej"],
    "mikhail": ["mikhail", "michail", "mykhailo", "mikhael", "michael"],
    "nikolai": ["nikolai", "nikolay", "mykola", "nicolai", "mikalai"],
    "yuri": ["yuri", "yury", "yurii", "iurii", "iouri"],
    "fyodor": ["fyodor", "fedor", "fedir", "feodor"],
    "pyotr": ["pyotr", "petr", "piotr", "petro", "peter"],
    "pavel": ["pavel", "pavlo", "paval"],
    "evgeny": ["evgeny", "yevgeny", "evgeni", "evgenii", "yevgeniy",
               "yevhen", "evgeniy"],
    "gennady": ["gennady", "gennadiy", "gennadi", "hennadiy"],
    "anatoly": ["anatoly", "anatoliy", "anatolii", "anatoli"],
    "vasily": ["vasily", "vasiliy", "vasilii", "vasyl", "vassili"],
    "viktor": ["viktor", "victor", "vyktor"],
    "valery": ["valery", "valeriy", "valerii", "valeri"],
    "igor": ["igor", "ihor", "igar"],
    "oleg": ["oleg", "oleh", "aleh"],
    "ekaterina": ["ekaterina", "yekaterina", "kateryna", "katarina"],
    "tatiana": ["tatiana", "tatyana", "tetiana", "tatsiana"],
    "natalia": ["natalia", "nataliya", "natalya", "nataliia"],
    "arkady": ["arkady", "arkadiy", "arkadii", "arkadi"],
    "gheorghe": ["gheorghe", "georgi", "georgiy", "heorhii", "georgii",
                 "georges", "jorge", "giorgi"],
    "ivan": ["ivan", "iwan", "ioann"],
    "iosif": ["iosif", "yosyp", "josef", "joseph", "yusif"],
    "paul": ["paul", "pol", "paulo", "pablo", "paolo", "pul"],
    # cross-script variants of globally-listed names: the folded Han /
    # Khmer forms pair with their latin romanisations (the reference
    # reaches these through rigour's multi-script name database; frozen:
    # "贝拉克·奥巴马"~"Barack Obama" = 0.9, "ប៉ុល ពត"~"Pol Pot" = 0.9)
    "barack": ["barack", "baraku", "贝拉克"],
    "obama": ["obama", "奥巴马"],
    "pot": ["pot", "pt"],
    "zedong": ["zedong", "tsetung"],
    "jong": ["jong", "yong", "chong"],
    "un": ["un", "on", "eun"],
    "zelensky": ["zelensky", "zelenskyy", "zelenskiy", "zelenskyi",
                 "selenskyj", "zelenskyj", "zelenskii"],
}

# --- name particles (nasab / tussenvoegsel / nobiliary) ---------------------
# Particles pair within a group at 0.9 and weigh 0.5 — a matched "bin"
# contributes half a part (frozen: Usama bin Ladin ~ Osama bin Laden).

_PARTICLE_GROUPS: dict[str, list[str]] = {
    "bin": ["bin", "ibn", "ben", "bn"],
    "bint": ["bint", "binti", "bt"],
    "abu": ["abu", "abou", "abo"],
    "abd": ["abd", "abdul", "abdel", "abdal", "abdol"],
    "al": ["al", "el", "ul", "al-"],
    "von": ["von", "van", "fon"],
    "der": ["der", "den", "ter", "ten"],
    "de": ["de", "da", "di", "do", "du", "dos", "das"],
    "la": ["la", "le", "les"],
    "oglu": ["oglu", "ogly", "oghlu", "uulu", "ogli"],
    "kyzy": ["kyzy", "gyzy", "kizi"],
}

# --- LOCATION tokens (compact public gazetteer) -----------------------------
# Country/region tokens that appear inside org names ("Siemens Russia").
# Reference weight 0.8 (magic.py LOCATION); extras bias 0.8.

_LOC_TOKENS: dict[str, list[str]] = {
    "russia": ["russia", "russian", "rossiya", "rossii", "rus"],
    "china": ["china", "chinese", "zhongguo", "prc"],
    "usa": ["usa", "america", "american", "us"],
    "uk": ["uk", "britain", "british"],
    # NB: no "deutsche"/"deutscher" — too load-bearing in real org names
    # ("Deutsche Bank") to down-weight as a locality adjective.
    "germany": ["germany", "german", "deutschland"],
    "france": ["france", "french", "francaise", "francais"],
    "europe": ["europe", "european", "europa"],
    "india": ["india", "indian"],
    "iran": ["iran", "iranian"],
    "iraq": ["iraq", "iraqi"],
    "syria": ["syria", "syrian"],
    "ukraine": ["ukraine", "ukrainian", "ukraina"],
    "turkey": ["turkey", "turkish", "turkiye"],
    "korea": ["korea", "korean"],
    "japan": ["japan", "japanese", "nippon"],
    "mexico": ["mexico", "mexican"],
    "brazil": ["brazil", "brasil", "brazilian"],
    "spain": ["spain", "spanish", "espana"],
    "italy": ["italy", "italian", "italia"],
    "canada": ["canada", "canadian"],
    "australia": ["australia", "australian"],
    "netherlands": ["netherlands", "dutch", "nederland", "holland"],
    "switzerland": ["switzerland", "swiss", "suisse"],
    "austria": ["austria", "austrian"],
    "poland": ["poland", "polish", "polska"],
    "sweden": ["sweden", "swedish", "sverige"],
    "norway": ["norway", "norwegian", "norge"],
    "belarus": ["belarus", "belarusian"],
    "kazakhstan": ["kazakhstan", "kazakh"],
    "uzbekistan": ["uzbekistan", "uzbek"],
    "egypt": ["egypt", "egyptian"],
    "saudi": ["saudi", "saudia"],
    "emirates": ["emirates", "uae", "dubai"],
    "israel": ["israel", "israeli"],
    "lebanon": ["lebanon", "lebanese"],
    "afghanistan": ["afghanistan", "afghan"],
    "pakistan": ["pakistan", "pakistani"],
    "venezuela": ["venezuela", "venezuelan"],
    "cuba": ["cuba", "cuban"],
    "chile": ["chile", "chilean"],
    "argentina": ["argentina", "argentine", "argentinian"],
    "peru": ["peru", "peruvian"],
    "colombia": ["colombia", "colombian"],
    "bolivia": ["bolivia", "bolivian"],
    "ecuador": ["ecuador", "ecuadorian"],
    "armenia": ["armenia", "armenian"],
    "georgia": ["georgia", "georgian"],
    "azerbaijan": ["azerbaijan", "azerbaijani"],
    "greece": ["greece", "greek", "hellas", "hellenic"],
    "portugal": ["portugal", "portuguese"],
    "finland": ["finland", "finnish", "suomi"],
    "denmark": ["denmark", "danish", "danmark"],
    "ireland": ["ireland", "irish"],
    "czech": ["czech", "czechia"],
    "hungary": ["hungary", "hungarian"],
    "romania": ["romania", "romanian"],
    "bulgaria": ["bulgaria", "bulgarian"],
    "serbia": ["serbia", "serbian"],
    "croatia": ["croatia", "croatian"],
    "nigeria": ["nigeria", "nigerian"],
    "kenya": ["kenya", "kenyan"],
    "ethiopia": ["ethiopia", "ethiopian"],
    "indonesia": ["indonesia", "indonesian"],
    "malaysia": ["malaysia", "malaysian"],
    "thailand": ["thailand", "thai"],
    "vietnam": ["vietnam", "vietnamese"],
    "philippines": ["philippines", "philippine", "filipino"],
    "bangladesh": ["bangladesh", "bangladeshi"],
    "myanmar": ["myanmar", "burma", "burmese"],
    "qatar": ["qatar", "qatari"],
    "kuwait": ["kuwait", "kuwaiti"],
    "bahrain": ["bahrain", "bahraini"],
    "oman": ["oman", "omani"],
    "yemen": ["yemen", "yemeni"],
    "jordan": ["jordan", "jordanian"],
    "morocco": ["morocco", "moroccan"],
    "algeria": ["algeria", "algerian"],
    "tunisia": ["tunisia", "tunisian"],
    "libya": ["libya", "libyan"],
    "sudan": ["sudan", "sudanese"],
    "somalia": ["somalia", "somali"],
    "moscow": ["moscow", "moskva"],
    "beijing": ["beijing", "peking"],
    "london": ["london"],
    "paris": ["paris"],
    "berlin": ["berlin"],
    "kyiv": ["kyiv", "kiev"],
    "hongkong": ["hongkong"],
    "singapore": ["singapore"],
    "crimea": ["crimea", "krym"],
    "chechnya": ["chechnya", "chechen"],
}

# --- multi-token legal-form phrases -----------------------------------------
# Two tables, mirroring the reference's two mechanisms:
#
# ORG_PHRASE_ABBREV: phrase → its own-language abbreviation, substituted
#   into the *comparable* form so "Gesellschaft mit beschränkter Haftung"
#   literal-matches "GmbH" (frozen: Volkswagen GmbH = 1.0) while
#   "Open Joint Stock Company" → "ojsc" does NOT literal-match "OAO"
#   (frozen: 0.9176 — the symbol pairing, not the early exit).
#
# The phrase also carries its ORG_CLASS symbol for the alignment stage,
# via the abbreviation's entry in _ORG_CLASSES.
# Keys are token tuples in *folded* space (diacritics stripped).

ORG_PHRASE_ABBREV: dict[tuple[str, ...], str] = {
    ("limited", "liability", "company"): "llc",
    ("limited", "liability", "partnership"): "llp",
    ("limited", "partnership"): "lp",
    ("public", "limited", "company"): "plc",
    ("open", "joint", "stock", "company"): "ojsc",
    ("closed", "joint", "stock", "company"): "cjsc",
    ("public", "joint", "stock", "company"): "pjsc",
    ("joint", "stock", "company"): "jsc",
    ("gesellschaft", "mit", "beschrankter", "haftung"): "gmbh",
    ("societate", "cu", "raspundere", "limitata"): "srl",
    ("societatea", "cu", "raspundere", "limitata"): "srl",
    ("societe", "a", "responsabilite", "limitee"): "sarl",
    ("societe", "par", "actions", "simplifiee"): "sas",
    ("societe", "anonyme",): "sa",
    ("sociedad", "anonima"): "sa",
    ("sociedad", "limitada"): "sl",
    ("sociedade", "limitada"): "lda",
    ("societa", "per", "azioni"): "spa",
    ("societa", "a", "responsabilita", "limitata"): "srl",
    ("naamloze", "vennootschap"): "nv",
    ("besloten", "vennootschap"): "bv",
    ("obshchestvo", "s", "ogranichennoi", "otvetstvennostyu"): "ooo",
    ("obshchestvo", "s", "ogranichennoy", "otvetstvennostyu"): "ooo",
    ("aktsionernoe", "obshchestvo"): "ao",
    ("otkrytoe", "aktsionernoe", "obshchestvo"): "oao",
    ("zakrytoe", "aktsionernoe", "obshchestvo"): "zao",
    ("publichnoe", "aktsionernoe", "obshchestvo"): "pao",
    ("spolka", "z", "ograniczona", "odpowiedzialnoscia"): "spzoo",
    ("sp", "z", "oo"): "spzoo",
    ("spolka", "akcyjna"): "spolka-sa",
    ("kabushiki", "kaisha"): "kk",
    ("anonim", "sirketi"): "as-tr",
    ("sendirian", "berhad"): "sdnbhd",
    ("sdn", "bhd"): "sdnbhd",
    ("pte", "ltd"): "pteltd",
    ("private", "limited"): "pteltd",
}

# Cyrillic legal-form phrases fold differently under the two Cyrillic
# romanisations (translit.fold_text digraphs vs fold_text_iso single
# chars); register BOTH foldings so the phrase is recognised in every
# analysis alternate (names_v2._analyze emits the ISO variant too).
_CYRILLIC_PHRASES: dict[str, str] = {
    "общество с ограниченной ответственностью": "ooo",
    "акционерное общество": "ao",
    "открытое акционерное общество": "oao",
    "закрытое акционерное общество": "zao",
    "публичное акционерное общество": "pao",
}


def _register_cyrillic_phrases() -> None:
    from nomenklatura_spark.matching.translit import fold_text, fold_text_iso

    for phrase, abbrev in _CYRILLIC_PHRASES.items():
        for folded in (fold_text(phrase), fold_text_iso(phrase)):
            ORG_PHRASE_ABBREV[tuple(folded.split())] = abbrev


_register_cyrillic_phrases()

# Single-token legal forms replaced to their abbreviation in the
# comparable form ("Acme Holdings Limited" ≡ "Acme Holdings Ltd").
# "company"/"co" deliberately absent (see _SYMBOL_GROUPS note).
ORG_TOKEN_ABBREV: dict[str, str] = {
    "limited": "ltd",
    "incorporated": "inc",
    "corporation": "corp",
    "aktiengesellschaft": "ag",
    "aktiebolag": "ab",
    "aktieselskab": "as",
    "osakeyhtio": "oy",
}


def _group_ids(groups: dict[str, list[str]], cat: str) -> dict[str, tuple[str, ...]]:
    out: dict[str, list[str]] = {}
    for canon, toks in groups.items():
        for t in {canon, *toks}:
            out.setdefault(t, []).append(f"{cat}:{canon}")
    return {t: tuple(v) for t, v in out.items()}


def _invert(groups: dict[str, list[str]], cat: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for canon, toks in groups.items():
        out[canon] = f"{cat}:{canon}"  # canonical token tags itself
        for t in toks:
            out[t] = f"{cat}:{canon}"
    return out


# token -> "cat:id".  Build order sets precedence on (rare) collisions:
# Multi-token NAME spans: hyphen/space-split romanisations whose joined
# form lives in a _NAME_GROUPS entry ("Mao Tse-tung" ~ "Mao Zedong"
# pairs the (tse, tung) span against the zedong token at NAME weight).
NAME_PHRASES: dict[tuple[str, ...], str] = {
    ("tse", "tung"): "name:zedong",
}

# org classes win over generic vocabulary.
TOKEN_SYMBOLS: dict[str, str] = {}
TOKEN_SYMBOLS.update(_invert(_NICKNAMES, "nick"))
TOKEN_SYMBOLS.update({t: f"num:{n}" for t, n in _NUM_WORDS.items()})
TOKEN_SYMBOLS.update(_invert(_DOMAINS, "dom"))
TOKEN_SYMBOLS.update(_invert(_SYMBOL_GROUPS, "sym"))
TOKEN_SYMBOLS.update(_invert(_ORG_CLASSES, "org"))

# token -> every symbol it carries (a token may be both a NAME variant and
# a NICK canonical, like "alexander").  The matcher pairs on ANY shared
# id; the blocker keeps using the single-precedence TOKEN_SYMBOLS map.
TOKEN_SYMBOLS_MULTI: dict[str, tuple[str, ...]] = {}
for _groups, _cat in (
    (_NICKNAMES, "nick"),
    (_DOMAINS, "dom"),
    (_SYMBOL_GROUPS, "sym"),
    (_ORG_CLASSES, "org"),
    (_NAME_GROUPS, "name"),
    (_PARTICLE_GROUPS, "part"),
    (_LOC_TOKENS, "loc"),
):
    for _t, _ids in _group_ids(_groups, _cat).items():
        TOKEN_SYMBOLS_MULTI[_t] = TOKEN_SYMBOLS_MULTI.get(_t, ()) + _ids
for _t, _n in _NUM_WORDS.items():
    TOKEN_SYMBOLS_MULTI[_t] = TOKEN_SYMBOLS_MULTI.get(_t, ()) + (f"num:{_n}",)


def token_symbols_all(token: str) -> tuple[str, ...]:
    """Every symbol id a normalized token carries (matcher-side lookup)."""
    m = _NUM_RE.match(token)
    if m is not None:
        return (f"num:{int(m.group(1))}",)
    return TOKEN_SYMBOLS_MULTI.get(token, ())

# 1-18 digits: stays in int64 range on every engine (longer digit runs
# are hashes/ids, not ordinals — not useful as numeric symbols anyway).
_NUM_RE = re.compile(r"^([0-9]{1,18})(st|nd|rd|th)?$")

# Categories the blocker indexes as sy: tokens.  INITIAL and SYMBOL are
# excluded, mirroring the reference (blocker/tokenizer.py:71-76): generic
# vocabulary is too common to block on, initials too ambiguous.
BLOCKER_CATEGORIES = ("org", "num", "nick", "dom")


def token_symbol(token: str) -> str | None:
    """Symbol id ("cat:id") for one normalized name token, or None."""
    m = _NUM_RE.match(token)
    if m is not None:
        return f"num:{int(m.group(1))}"
    return TOKEN_SYMBOLS.get(token)


def part_symbol_category(token: str) -> str | None:
    sym = token_symbol(token)
    return sym.split(":", 1)[0] if sym else None


# --- Spark / DuckDB constant-lexicon expressions ---------------------------

def blocker_symbol_map() -> dict[str, str]:
    """token -> symbol id, restricted to blocker-indexed categories."""
    return {
        t: s
        for t, s in TOKEN_SYMBOLS.items()
        if s.split(":", 1)[0] in BLOCKER_CATEGORIES
    }


def symbol_token_col(tok):
    """Column expr: normalized name token -> "cat:id" symbol or NULL.

    The lexicon rides as a constant-folded map literal (a few hundred
    entries — ConstantFolding collapses ``CreateMap`` of literals once,
    then per-row lookup; no shuffle, no UDF).  Digits (with optional
    ordinal suffix) fold to the integer value via regexp.
    """
    from pyspark.sql import functions as F

    # One parsed map literal (tokens are lowercase alphanumerics, no
    # escaping needed) — building it from F.lit pairs costs a py4j
    # round-trip per literal.
    entries = blocker_symbol_map()
    items = ",".join(f"'{t}','{s}'" for t, s in entries.items())
    lex = F.expr(f"map({items})")
    digits = F.regexp_extract(tok, r"^([0-9]{1,18})(st|nd|rd|th)?$", 1)
    return F.when(
        digits != "",
        F.concat(F.lit("num:"), digits.cast("bigint").cast("string")),
    ).otherwise(F.element_at(lex, tok))


def symbol_sql_expr(tok_expr: str) -> str:
    """DuckDB expression mirroring ``symbol_token_col`` for the oracle."""
    entries = blocker_symbol_map()
    pairs = ", ".join(
        f"'{t}': '{s}'" for t, s in sorted(entries.items())
    )
    return (
        f"CASE WHEN regexp_matches({tok_expr}, '^[0-9]{{1,18}}(st|nd|rd|th)?$') "
        f"THEN 'num:' || CAST(CAST(regexp_replace({tok_expr}, "
        f"'(st|nd|rd|th)$', '') AS BIGINT) AS VARCHAR) "
        f"ELSE map_extract(MAP {{{pairs}}}, {tok_expr})[1] END"
    )
