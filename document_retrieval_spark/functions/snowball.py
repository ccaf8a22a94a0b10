"""Hermetic Snowball stemmers for French, German, Spanish and Italian —
F4b (`bm25_ranking.ipynb cell 1:18-21` stems fr/de/es/it with nltk's
SnowballStemmer). Implemented from M.F. Porter's published Snowball
algorithm descriptions (snowballstem.org, public domain) so no nltk
download is ever needed — the Porter playbook of functions/stem.py
repeated for the four languages the reference's multilingual run uses.
The analyzer (`oracle.bm25.stemmer`) uses these for every Snowball
`stem_lang`; nltk is never imported.

Each stemmer follows the originally-published algorithm revision (later
site amendments — e.g. the French He/Hi vowel-marking addendum — are not
applied; tests/test_snowball.py pins the implemented behavior with
hand-derived vectors and, when nltk happens to be importable, a full
differential run against it).
"""

from __future__ import annotations

# --------------------------------------------------------------- shared


def _std_r1r2(w: str, vowels: str) -> tuple[int, int]:
    """Standard R1/R2: the region after the first non-vowel following a
    vowel (R1), and the same definition applied within R1 (R2)."""
    n = len(w)
    r1 = n
    for i in range(1, n):
        if w[i] not in vowels and w[i - 1] in vowels:
            r1 = i + 1
            break
    r2 = n
    for i in range(r1 + 1, n):
        if w[i] not in vowels and w[i - 1] in vowels:
            r2 = i + 1
            break
    return r1, r2


def _romance_rv(w: str, vowels: str) -> int:
    """RV for the Romance stemmers: second letter a consonant -> after the
    next following vowel; first two letters vowels -> after the next
    consonant; else (consonant-vowel) after the third letter."""
    n = len(w)
    if n < 3:
        return n
    if w[1] not in vowels:
        for i in range(2, n):
            if w[i] in vowels:
                return i + 1
        return n
    if w[0] in vowels and w[1] in vowels:
        for i in range(2, n):
            if w[i] not in vowels:
                return i + 1
        return n
    return 3


def _ends_in(w: str, suf: str, region: int) -> bool:
    """Suffix present AND entirely inside the region starting at `region`."""
    return w.endswith(suf) and len(w) - len(suf) >= region


def _longest(w: str, sufs) -> str | None:
    """Longest suffix of `w` among `sufs` (Snowball `among` semantics: the
    longest match decides the action; no backtracking to shorter ones)."""
    best = None
    for s in sufs:
        if w.endswith(s) and (best is None or len(s) > len(best)):
            best = s
    return best


# --------------------------------------------------------------- German

_DE_V = "aeiouyäöü"
_DE_S_END = set("bdfghklmnrt")
_DE_ST_END = set("bdfghklmnt")


def german_stem(word: str) -> str:
    """Snowball German stemmer (published description, snowballstem.org)."""
    w = word.lower().replace("ß", "ss")
    if len(w) <= 2:
        return w.replace("ä", "a").replace("ö", "o").replace("ü", "u")
    # u/y between vowels are consonants for this algorithm (marked upper)
    ch = list(w)
    for i in range(1, len(ch) - 1):
        if ch[i] == "u" and ch[i - 1] in _DE_V and ch[i + 1] in _DE_V:
            ch[i] = "U"
        elif ch[i] == "y" and ch[i - 1] in _DE_V and ch[i + 1] in _DE_V:
            ch[i] = "Y"
    w = "".join(ch)
    r1, r2 = _std_r1r2(w, _DE_V)
    r1 = max(r1, 3)  # the region before R1 must contain >= 3 letters

    # step 1
    s = _longest(w, ("em", "ern", "er", "e", "en", "es", "s"))
    if s == "s":
        if len(w) >= 2 and w[-2] in _DE_S_END and _ends_in(w, "s", r1):
            w = w[:-1]
    elif s in ("em", "ern", "er"):
        if _ends_in(w, s, r1):
            w = w[: -len(s)]
    elif s is not None:  # e, en, es
        if _ends_in(w, s, r1):
            w = w[: -len(s)]
            if w.endswith("niss"):
                w = w[:-1]

    # step 2
    s = _longest(w, ("en", "er", "est", "st"))
    if s == "st":
        if (
            len(w) >= 6
            and w[-3] in _DE_ST_END
            and _ends_in(w, "st", r1)
        ):
            w = w[:-2]
    elif s is not None:
        if _ends_in(w, s, r1):
            w = w[: -len(s)]

    # step 3 (d-suffixes)
    s = _longest(w, ("end", "ung", "ig", "ik", "isch", "lich", "heit", "keit"))
    if s in ("end", "ung"):
        if _ends_in(w, s, r2):
            w = w[: -len(s)]
            if (
                w.endswith("ig")
                and not w.endswith("eig")
                and _ends_in(w, "ig", r2)
            ):
                w = w[:-2]
    elif s in ("ig", "ik", "isch"):
        if _ends_in(w, s, r2) and not w.endswith("e" + s):
            w = w[: -len(s)]
    elif s in ("lich", "heit"):
        if _ends_in(w, s, r2):
            w = w[: -len(s)]
            t = _longest(w, ("er", "en"))
            if t and _ends_in(w, t, r1):
                w = w[: -len(t)]
    elif s == "keit":
        if _ends_in(w, s, r2):
            w = w[: -len(s)]
            t = _longest(w, ("lich", "ig"))
            if t and _ends_in(w, t, r2):
                w = w[: -len(t)]

    return (
        w.replace("U", "u")
        .replace("Y", "y")
        .replace("ä", "a")
        .replace("ö", "o")
        .replace("ü", "u")
    )


# --------------------------------------------------------------- French

_FR_V = "aeiouyâàëéêèïîôûù"

_FR_STEP1 = (
    "ance", "iqUe", "isme", "able", "iste", "eux",
    "ances", "iqUes", "ismes", "ables", "istes",
    "atrice", "ateur", "ation", "atrices", "ateurs", "ations",
    "logie", "logies", "usion", "ution", "usions", "utions",
    "ence", "ences", "ement", "ements", "ité", "ités",
    "if", "ive", "ifs", "ives", "eaux", "aux", "euse", "euses",
    "issement", "issements", "amment", "emment", "ment", "ments",
)
_FR_STEP2A = (
    "îmes", "ît", "îtes", "i", "ie", "ies", "ir", "ira", "irai",
    "iraIent", "irais", "irait", "iras", "irent", "irez", "iriez",
    "irions", "irons", "iront", "is", "issaIent", "issais", "issait",
    "issant", "issante", "issantes", "issants", "isse", "issent",
    "isses", "issez", "issiez", "issions", "issons", "it",
)
_FR_STEP2B_ER = (
    "é", "ée", "ées", "és", "èrent", "er", "era", "erai", "eraIent",
    "erais", "erait", "eras", "erez", "eriez", "erions", "erons",
    "eront", "ez", "iez",
)
_FR_STEP2B_A = (
    "âmes", "ât", "âtes", "a", "ai", "aIent", "ais", "ait", "ant",
    "ante", "antes", "ants", "as", "asse", "assent", "asses",
    "assiez", "assions",
)


def french_stem(word: str) -> str:  # noqa: C901 (faithful rule table)
    """Snowball French stemmer (published description, snowballstem.org)."""
    w = word.lower()
    if len(w) <= 2:
        return w
    ch = list(w)
    n = len(ch)
    for i in range(n):
        c = ch[i]
        if c in "ui" and 0 < i < n - 1 and ch[i - 1] in _FR_V and ch[i + 1] in _FR_V:
            ch[i] = c.upper()
        elif c == "y" and (
            (i > 0 and ch[i - 1] in _FR_V) or (i < n - 1 and ch[i + 1] in _FR_V)
        ):
            ch[i] = "Y"
        elif c == "u" and i > 0 and ch[i - 1] == "q":
            ch[i] = "U"
    w = "".join(ch)

    if w[:3] in ("par", "col", "tap") or (w[0] in _FR_V and w[1] in _FR_V):
        rv = 3 if len(w) >= 3 else len(w)
    else:
        rv = len(w)
        for i in range(1, len(w)):
            if w[i] in _FR_V:
                rv = i + 1
                break
    r1, r2 = _std_r1r2(w, _FR_V)

    orig = w
    found_ment = False

    s = _longest(w, _FR_STEP1)
    if s is not None:
        if s in ("ance", "iqUe", "isme", "able", "iste", "eux",
                 "ances", "iqUes", "ismes", "ables", "istes"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)]
        elif s in ("atrice", "ateur", "ation", "atrices", "ateurs", "ations"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)]
                if w.endswith("ic"):
                    if _ends_in(w, "ic", r2):
                        w = w[:-2]
                    else:
                        w = w[:-2] + "iqU"
        elif s in ("logie", "logies"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)] + "log"
        elif s in ("usion", "ution", "usions", "utions"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)] + "u"
        elif s in ("ence", "ences"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)] + "ent"
        elif s in ("ement", "ements"):
            if _ends_in(w, s, rv):
                w = w[: -len(s)]
                if _ends_in(w, "iv", r2):
                    w = w[:-2]
                    if _ends_in(w, "at", r2):
                        w = w[:-2]
                elif w.endswith("eus"):
                    if _ends_in(w, "eus", r2):
                        w = w[:-3]
                    elif _ends_in(w, "eus", r1):
                        w = w[:-3] + "eux"
                elif _ends_in(w, "abl", r2) or _ends_in(w, "iqU", r2):
                    w = w[:-3]
                elif _ends_in(w, "ièr", rv) or _ends_in(w, "Ièr", rv):
                    w = w[:-3] + "i"
        elif s in ("ité", "ités"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)]
                if w.endswith("abil"):
                    if _ends_in(w, "abil", r2):
                        w = w[:-4]
                    else:
                        w = w[:-4] + "abl"
                elif w.endswith("ic"):
                    if _ends_in(w, "ic", r2):
                        w = w[:-2]
                    else:
                        w = w[:-2] + "iqU"
                elif _ends_in(w, "iv", r2):
                    w = w[:-2]
        elif s in ("if", "ive", "ifs", "ives"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)]
                if _ends_in(w, "at", r2):
                    w = w[:-2]
                    if w.endswith("ic"):
                        if _ends_in(w, "ic", r2):
                            w = w[:-2]
                        else:
                            w = w[:-2] + "iqU"
        elif s == "eaux":
            w = w[:-4] + "eau"
        elif s == "aux":
            if _ends_in(w, "aux", r1):
                w = w[:-3] + "al"
        elif s in ("euse", "euses"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)]
            elif _ends_in(w, s, r1):
                w = w[: -len(s)] + "eux"
        elif s in ("issement", "issements"):
            if _ends_in(w, s, r1) and len(w) > len(s) and w[-len(s) - 1] not in _FR_V:
                w = w[: -len(s)]
        elif s == "amment":
            found_ment = True
            if _ends_in(w, s, rv):
                w = w[: -len(s)] + "ant"
        elif s == "emment":
            found_ment = True
            if _ends_in(w, s, rv):
                w = w[: -len(s)] + "ent"
        elif s in ("ment", "ments"):
            found_ment = True
            if (
                len(w) > len(s)
                and w[-len(s) - 1] in _FR_V
                and len(w) - len(s) - 1 >= rv
            ):
                w = w[: -len(s)]

    step1_mod = w != orig
    do_2a = (not step1_mod) or found_ment
    last_mod = step1_mod
    if do_2a:
        pre = w
        s = _longest(w, _FR_STEP2A)
        if (
            s is not None
            and _ends_in(w, s, rv)
            and len(w) > len(s)
            and w[-len(s) - 1] not in _FR_V
            and len(w) - len(s) - 1 >= rv
        ):
            w = w[: -len(s)]
        if w != pre:
            last_mod = True
        else:
            # step 2b
            pre = w
            s = _longest(w, ("ions",) + _FR_STEP2B_ER + _FR_STEP2B_A)
            if s == "ions":
                if _ends_in(w, s, r2) and _ends_in(w, s, rv):
                    w = w[: -len(s)]
            elif s in _FR_STEP2B_ER:
                if _ends_in(w, s, rv):
                    w = w[: -len(s)]
            elif s in _FR_STEP2B_A:
                if _ends_in(w, s, rv):
                    w = w[: -len(s)]
                    if _ends_in(w, "e", rv):
                        w = w[:-1]
            last_mod = w != pre

    if last_mod:
        # step 3
        if w.endswith("Y"):
            w = w[:-1] + "i"
        elif w.endswith("ç"):
            w = w[:-1] + "c"
    else:
        # step 4 (residual)
        if w.endswith("s") and len(w) >= 2 and w[-2] not in "aiouès":
            w = w[:-1]
        s = _longest(w, ("ion", "ier", "ière", "Ier", "Ière", "e"))
        if s == "ion":
            if (
                _ends_in(w, s, r2)
                and len(w) > 3
                and w[-4] in "st"
                and len(w) - 4 >= rv
            ):
                w = w[:-3]
        elif s in ("ier", "ière", "Ier", "Ière"):
            if _ends_in(w, s, rv):
                w = w[: -len(s)] + "i"
        elif s == "e":
            if _ends_in(w, s, rv):
                w = w[:-1]

    # step 5: undouble
    for suf in ("enn", "onn", "ett", "ell", "eill"):
        if w.endswith(suf):
            w = w[:-1]
            break
    # step 6: un-accent a final é/è followed only by non-vowels
    i = len(w) - 1
    seen_nonv = 0
    while i >= 0 and w[i] not in _FR_V:
        seen_nonv += 1
        i -= 1
    if seen_nonv >= 1 and i >= 0 and w[i] in "éè":
        w = w[:i] + "e" + w[i + 1 :]

    return w.replace("I", "i").replace("U", "u").replace("Y", "y")


# --------------------------------------------------------------- Spanish

_ES_V = "aeiouáéíóúü"

_ES_PRON = (
    "me", "se", "sela", "selo", "selas", "selos", "la", "le", "lo",
    "las", "les", "los", "nos",
)
_ES_PRON_A = ("iéndo", "ándo", "ár", "ér", "ír")
_ES_PRON_B = ("ando", "iendo", "ar", "er", "ir")
_ES_UNACC = str.maketrans("áéíóúü", "aeiouu")

_ES_STEP1_DEL = (
    "anza", "anzas", "ico", "ica", "icos", "icas", "ismo", "ismos",
    "able", "ables", "ible", "ibles", "ista", "istas", "oso", "osa",
    "osos", "osas", "amiento", "amientos", "imiento", "imientos",
)
_ES_STEP1_ADOR = (
    "adora", "ador", "ación", "adoras", "adores", "aciones",
    "ante", "antes", "ancia", "ancias",
)
_ES_STEP2A = (
    "ya", "ye", "yan", "yen", "yeron", "yendo", "yo", "yó", "yas",
    "yes", "yais", "yamos",
)
_ES_STEP2B_GU = ("en", "es", "éis", "emos")
_ES_STEP2B = (
    "arían", "arías", "arán", "arás", "aríais", "aría", "aréis",
    "aríamos", "aremos", "ará", "aré", "erían", "erías", "erán",
    "erás", "eríais", "ería", "eréis", "eríamos", "eremos", "erá",
    "eré", "irían", "irías", "irán", "irás", "iríais", "iría",
    "iréis", "iríamos", "iremos", "irá", "iré", "aba", "ada", "ida",
    "ía", "ara", "iera", "ad", "ed", "id", "ase", "iese", "aste",
    "iste", "an", "aban", "ían", "aran", "ieran", "asen", "iesen",
    "aron", "ieron", "ado", "ido", "ando", "iendo", "ió", "ar", "er",
    "ir", "as", "abas", "adas", "idas", "ías", "aras", "ieras",
    "ases", "ieses", "ís", "áis", "abais", "íais", "arais", "ierais",
    "aseis", "ieseis", "asteis", "isteis", "ados", "idos", "amos",
    "ábamos", "íamos", "imos", "áramos", "iéramos", "iésemos",
    "ásemos",
)


def spanish_stem(word: str) -> str:  # noqa: C901 (faithful rule table)
    """Snowball Spanish stemmer (published description, snowballstem.org)."""
    w = word.lower()
    if len(w) <= 2:
        return w.translate(_ES_UNACC)
    rv = _romance_rv(w, _ES_V)
    r1, r2 = _std_r1r2(w, _ES_V)

    # step 0: attached pronoun
    p = _longest(w, _ES_PRON)
    if p is not None:
        base = w[: -len(p)]
        a = _longest(base, _ES_PRON_A)
        b = _longest(base, _ES_PRON_B)
        if a is not None and len(base) - len(a) >= rv:
            w = base.translate(_ES_UNACC)
        elif b is not None and len(base) - len(b) >= rv:
            w = base
        elif (
            base.endswith("yendo")
            and len(base) >= 6
            and base[-6] == "u"
            and len(base) - 5 >= rv
        ):
            w = base

    orig = w
    # step 1: standard suffixes
    s = _longest(
        w,
        _ES_STEP1_DEL
        + _ES_STEP1_ADOR
        + ("logía", "logías", "ución", "uciones", "encia", "encias",
           "amente", "mente", "idad", "idades", "iva", "ivo", "ivas",
           "ivos"),
    )
    if s is not None:
        if s in _ES_STEP1_DEL:
            if _ends_in(w, s, r2):
                w = w[: -len(s)]
        elif s in _ES_STEP1_ADOR:
            if _ends_in(w, s, r2):
                w = w[: -len(s)]
                if _ends_in(w, "ic", r2):
                    w = w[:-2]
        elif s in ("logía", "logías"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)] + "log"
        elif s in ("ución", "uciones"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)] + "u"
        elif s in ("encia", "encias"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)] + "ente"
        elif s == "amente":
            if _ends_in(w, s, r1):
                w = w[: -len(s)]
                if _ends_in(w, "iv", r2):
                    w = w[:-2]
                    if _ends_in(w, "at", r2):
                        w = w[:-2]
                else:
                    t = _longest(w, ("os", "ic", "ad"))
                    if t and _ends_in(w, t, r2):
                        w = w[: -len(t)]
        elif s == "mente":
            if _ends_in(w, s, r2):
                w = w[: -len(s)]
                t = _longest(w, ("ante", "able", "ible"))
                if t and _ends_in(w, t, r2):
                    w = w[: -len(t)]
        elif s in ("idad", "idades"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)]
                t = _longest(w, ("abil", "ic", "iv"))
                if t and _ends_in(w, t, r2):
                    w = w[: -len(t)]
        elif s in ("iva", "ivo", "ivas", "ivos"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)]
                if _ends_in(w, "at", r2):
                    w = w[:-2]

    if w == orig:
        # step 2a: verb suffixes beginning y, preceded by u
        pre = w
        s = _longest(w, _ES_STEP2A)
        if (
            s is not None
            and _ends_in(w, s, rv)
            and len(w) > len(s)
            and w[-len(s) - 1] == "u"
        ):
            w = w[: -len(s)]
        if w == pre:
            # step 2b
            s = _longest(w, _ES_STEP2B_GU + _ES_STEP2B)
            if s in _ES_STEP2B_GU:
                if _ends_in(w, s, rv):
                    w = w[: -len(s)]
                    if w.endswith("gu"):
                        w = w[:-1]
            elif s is not None:
                if _ends_in(w, s, rv):
                    w = w[: -len(s)]

    # step 3: residual suffix
    s = _longest(w, ("os", "a", "o", "á", "í", "ó", "e", "é"))
    if s in ("os", "a", "o", "á", "í", "ó"):
        if _ends_in(w, s, rv):
            w = w[: -len(s)]
    elif s in ("e", "é"):
        if _ends_in(w, s, rv):
            w = w[: -len(s)]
            if w.endswith("gu") and len(w) - 1 >= rv:
                w = w[:-1]

    return w.translate(_ES_UNACC)


# --------------------------------------------------------------- Italian

_IT_V = "aeiouàèìòù"
_IT_ACUTE = str.maketrans("áéíóú", "àèìòù")

_IT_PRON = (
    "ci", "gli", "la", "le", "li", "lo", "mi", "ne", "si", "ti", "vi",
    "sene", "gliela", "gliele", "glieli", "glielo", "gliene", "mela",
    "mele", "meli", "melo", "mene", "tela", "tele", "teli", "telo",
    "tene", "cela", "cele", "celi", "celo", "cene", "vela", "vele",
    "veli", "velo", "vene",
)
_IT_STEP1_DEL = (
    "anza", "anze", "ico", "ici", "ica", "ice", "iche", "ichi",
    "ismo", "ismi", "abile", "abili", "ibile", "ibili", "ista",
    "iste", "isti", "istà", "istè", "istì", "oso", "osi", "osa",
    "ose", "mente", "atrice", "atrici", "ante", "anti",
)
_IT_STEP2 = (
    "ammo", "ando", "ano", "are", "arono", "asse", "assero", "assi",
    "assimo", "ata", "ate", "ati", "ato", "ava", "avamo", "avano",
    "avate", "avi", "avo", "emmo", "enda", "ende", "endi", "endo",
    "erà", "erai", "eranno", "ere", "erebbe", "erebbero", "erei",
    "eremmo", "eremo", "ereste", "eresti", "erete", "erò", "erono",
    "essero", "ete", "eva", "evamo", "evano", "evate", "evi", "evo",
    "Yamo", "iamo", "immo", "irà", "irai", "iranno", "ire", "irebbe",
    "irebbero", "irei", "iremmo", "iremo", "ireste", "iresti",
    "irete", "irò", "irono", "isca", "iscano", "isce", "isci",
    "isco", "iscono", "issero", "ita", "ite", "iti", "ito", "iva",
    "ivamo", "ivano", "ivate", "ivi", "ivo", "ono", "uta", "ute",
    "uti", "uto", "ar", "ir",
)


def italian_stem(word: str) -> str:  # noqa: C901 (faithful rule table)
    """Snowball Italian stemmer (published description, snowballstem.org)."""
    w = word.lower().translate(_IT_ACUTE)
    if len(w) <= 2:
        return w
    ch = list(w)
    n = len(ch)
    for i in range(n):
        c = ch[i]
        if c == "u" and i > 0 and ch[i - 1] == "q":
            ch[i] = "U"
        elif c in "ui" and 0 < i < n - 1 and ch[i - 1] in _IT_V and ch[i + 1] in _IT_V:
            ch[i] = c.upper()
    w = "".join(ch)
    rv = _romance_rv(w, _IT_V)
    r1, r2 = _std_r1r2(w, _IT_V)

    # step 0: attached pronoun
    p = _longest(w, _IT_PRON)
    if p is not None:
        base = w[: -len(p)]
        a = _longest(base, ("ando", "endo"))
        b = _longest(base, ("ar", "er", "ir"))
        if a is not None and len(base) - len(a) >= rv:
            w = base
        elif b is not None and len(base) - len(b) >= rv:
            w = base + "e"

    orig = w
    # step 1: standard suffixes
    s = _longest(
        w,
        _IT_STEP1_DEL
        + ("azione", "azioni", "atore", "atori", "logia", "logie",
           "uzione", "uzioni", "usione", "usioni", "enza", "enze",
           "amento", "amenti", "imento", "imenti", "amente", "ità",
           "ivo", "ivi", "iva", "ive"),
    )
    if s is not None:
        if s in _IT_STEP1_DEL:
            if _ends_in(w, s, r2):
                w = w[: -len(s)]
        elif s in ("azione", "azioni", "atore", "atori"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)]
                if _ends_in(w, "ic", r2):
                    w = w[:-2]
        elif s in ("logia", "logie"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)] + "log"
        elif s in ("uzione", "uzioni", "usione", "usioni"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)] + "u"
        elif s in ("enza", "enze"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)] + "ente"
        elif s in ("amento", "amenti", "imento", "imenti"):
            if _ends_in(w, s, rv):
                w = w[: -len(s)]
        elif s == "amente":
            if _ends_in(w, s, r1):
                w = w[: -len(s)]
                if _ends_in(w, "iv", r2):
                    w = w[:-2]
                    if _ends_in(w, "at", r2):
                        w = w[:-2]
                else:
                    t = _longest(w, ("os", "ic"))
                    if t and _ends_in(w, t, r2):
                        w = w[: -len(t)]
        elif s == "ità":
            if _ends_in(w, s, r2):
                w = w[: -len(s)]
                t = _longest(w, ("abil", "ic", "iv"))
                if t and _ends_in(w, t, r2):
                    w = w[: -len(t)]
        elif s in ("ivo", "ivi", "iva", "ive"):
            if _ends_in(w, s, r2):
                w = w[: -len(s)]
                if _ends_in(w, "at", r2):
                    w = w[:-2]
                    if _ends_in(w, "ic", r2):
                        w = w[:-2]

    if w == orig:
        # step 2: verb suffixes
        s = _longest(w, _IT_STEP2)
        if s is not None and _ends_in(w, s, rv):
            w = w[: -len(s)]

    # step 3a: final vowel (and a following final i)
    if w and w[-1] in "aeioàèìò" and len(w) - 1 >= rv:
        w = w[:-1]
        if w.endswith("i") and len(w) - 1 >= rv:
            w = w[:-1]
    # step 3b
    if (w.endswith("ch") or w.endswith("gh")) and len(w) - 2 >= rv:
        w = w[:-1]

    return w.replace("I", "i").replace("U", "u").replace("Y", "y")


SNOWBALL_STEMMERS = {
    "german": german_stem,
    "de": german_stem,
    "french": french_stem,
    "fr": french_stem,
    "spanish": spanish_stem,
    "es": spanish_stem,
    "italian": italian_stem,
    "it": italian_stem,
}
