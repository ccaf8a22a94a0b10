"""Hermetic English lemmatizer — WordNet's *Morphy* algorithm (noun mode)
from its published description, no nltk/WordNet-data dependency (F4,
SURVEY §2.3; reference: `bm25_ranking.ipynb cell 1:16-17` builds
`WordNetLemmatizer()` and calls `lemmatizer.lemmatize(word)` per token).

`WordNetLemmatizer.lemmatize(word)` defaults to pos='n', so the reference
pipeline only ever exercises NOUN morphy; that is what this module
implements:

1. **Exception list.** Morphy first consults the irregular-inflection
   table (WordNet's `noun.exc`); a hit short-circuits the rules entirely.
   We embed a compact curated table of common English irregular plurals
   (public knowledge — standard irregular-plural lists), covering the
   forms a transcript corpus actually hits.
2. **Rules of detachment.** WordNet's published noun substitutions:
   "s"->"", "ses"->"s", "ves"->"f", "xes"->"x", "zes"->"z", "ches"->"ch",
   "shes"->"sh", "men"->"man", "ies"->"y". Real Morphy generates every
   applicable candidate and keeps those present in the WordNet lemma
   dictionary; shipping the 117k-lemma dictionary is not hermetic, so this
   implementation resolves the (few) genuinely ambiguous suffix classes
   with compact embedded word sets (-ie lemmas like "movie"/"tie";
   f-plurals like "wolves"->"wolf" vs the larger "caves"->"cave" class;
   non-plural -men words like "specimen") and otherwise applies the
   highest-priority applicable rule — an OPEN-VOCABULARY stance: an
   unknown "-s" token is treated as a regular plural. WordNet would leave
   an out-of-dictionary token unchanged instead; for retrieval this open
   stance is the better analyzer (query "qzkfs" matches document "qzkf")
   and it is deterministic, which is what the staged-tf correctness gate
   requires. Exact WordNet agreement on the curated vocabulary is pinned
   in tests/test_lemma.py, with an nltk differential when importable.

Like Morphy, inputs are assumed lowercase (the tokenizer lowercases
upstream); non-noun behavior (pos v/a/r) is out of scope because the
reference never requests it.
"""

from __future__ import annotations

# Irregular plural -> singular, curated from standard public
# irregular-plural lists (the common subset of WordNet's noun.exc).
# A hit here returns immediately — rules are NOT applied (Morphy's
# exception short-circuit).
NOUN_EXCEPTIONS: dict[str, str] = {
    "children": "child",
    "men": "man",
    "women": "woman",
    "feet": "foot",
    "teeth": "tooth",
    "geese": "goose",
    "mice": "mouse",
    "lice": "louse",
    "oxen": "ox",
    "dice": "die",
    "brethren": "brother",
    # -f/-fe irregulars (the "ves"->"f" rule can't restore the "e")
    "wives": "wife",
    "knives": "knife",
    "lives": "life",
    "selves": "self",
    "shelves": "shelf",
    "calves": "calf",
    "halves": "half",
    "loaves": "loaf",
    "scarves": "scarf",
    "thieves": "thief",
    "sheaves": "sheaf",
    "wharves": "wharf",
    "elves": "elf",
    "hooves": "hoof",
    # Latin/Greek plurals
    "data": "datum",
    "criteria": "criterion",
    "phenomena": "phenomenon",
    "bacteria": "bacterium",
    "curricula": "curriculum",
    "memoranda": "memorandum",
    "millennia": "millennium",
    "strata": "stratum",
    "alumni": "alumnus",
    "fungi": "fungus",
    "cacti": "cactus",
    "nuclei": "nucleus",
    "radii": "radius",
    "stimuli": "stimulus",
    "syllabi": "syllabus",
    "foci": "focus",
    "loci": "locus",
    "indices": "index",
    "appendices": "appendix",
    "matrices": "matrix",
    "vertices": "vertex",
    "vortices": "vortex",
    "apices": "apex",
    "codices": "codex",
    "analyses": "analysis",
    "bases": "basis",
    "crises": "crisis",
    "diagnoses": "diagnosis",
    "hypotheses": "hypothesis",
    "oases": "oasis",
    "parentheses": "parenthesis",
    "syntheses": "synthesis",
    "theses": "thesis",
    "axes": "axis",
    "ellipses": "ellipsis",
    "emphases": "emphasis",
    "neuroses": "neurosis",
    "genera": "genus",
    "corpora": "corpus",
    "media": "medium",
    "ova": "ovum",
    "larvae": "larva",
    "antennae": "antenna",
    "formulae": "formula",
    "nebulae": "nebula",
    "vertebrae": "vertebra",
    "algae": "alga",
    # -o plurals whose singular the detachment rules can't produce
    "tomatoes": "tomato",
    "potatoes": "potato",
    "heroes": "hero",
    "echoes": "echo",
    "torpedoes": "torpedo",
    "vetoes": "veto",
    "mosquitoes": "mosquito",
    "volcanoes": "volcano",
    "dominoes": "domino",
    "embargoes": "embargo",
    "cargoes": "cargo",
    "haloes": "halo",
    # misc irregulars
    "people": "people",      # its own lemma; must not strip to "peopl"+e
    "pence": "penny",
    "geneses": "genesis",
    "beaux": "beau",
    "bureaux": "bureau",
    "tableaux": "tableau",
    "seraphim": "seraph",
    "cherubim": "cherub",
    "minutiae": "minutia",
    "paralyses": "paralysis",
    "prognoses": "prognosis",
    "psychoses": "psychosis",
    "stigmata": "stigma",
    "schemata": "schema",
    "automata": "automaton",
    "phyla": "phylum",
    "quanta": "quantum",
    "spectra": "spectrum",
    "addenda": "addendum",
    "errata": "erratum",
    "ganglia": "ganglion",
    "taxa": "taxon",
    # doubled-consonant plurals the detachment rules can't undo
    "quizzes": "quiz",
    "fezzes": "fez",
}

# Lemmas ending in -ie: their plural ends -ies but must NOT become "-y"
# ("movies" -> "movie", not "movy").
IE_LEMMAS: frozenset[str] = frozenset({
    "movie", "tie", "lie", "pie", "die", "cookie", "rookie", "genie",
    "calorie", "prairie", "zombie", "sortie", "goalie", "collie",
    "birdie", "budgie", "auntie", "cutie", "bootie", "beanie", "bowtie",
    "brownie", "foodie", "freebie", "groupie",
    "hippie", "hoodie", "junkie", "kiddie", "laddie", "lassie", "eddie",
    "magpie", "newbie", "oldie", "onesie", "pixie", "quickie",
    "selfie", "smoothie", "softie", "talkie", "techie", "townie",
    "veggie", "walkie", "yuppie", "menagerie", "reverie", "coterie",
    "camaraderie", "lingerie", "series",  # "series" guard handled below too
})

# Plurals in -ves whose lemma ends in -f ("wolves" -> "wolf"); everything
# else in -ves is the regular "-ve" class ("caves" -> "cave").
VES_TO_F: frozenset[str] = frozenset({
    "wolves", "leaves", "dwarves", "turves", "corves", "rooves",
    "staves", "beeves",
})

# Words that END like a plural but ARE lemmas — Morphy's dictionary check
# keeps them unchanged; we screen them explicitly. (-is/-us/-ss endings
# are handled structurally below.)
KEEP_AS_IS: frozenset[str] = frozenset({
    "news", "series", "species", "means", "molasses", "measles",
    "billiards", "shambles", "biceps", "triceps", "forceps", "corps",
    "chassis", "précis", "bourgeois", "chaos", "cosmos", "pathos",
    "ethos", "atlas", "bias", "canvas", "christmas", "alias",
    "gas", "lens", "iris", "pelvis",
    "always", "perhaps", "whereas", "alas", "yes", "its", "his", "hers",
    "ours", "yours", "theirs", "this", "thus", "plus", "minus", "versus",
    "dais", "trellis",
})

# Non-plural words ending in -men (the "men"->"man" rule must skip them).
MEN_LEMMAS: frozenset[str] = frozenset({
    "specimen", "regimen", "abdomen", "acumen", "bitumen", "albumen",
    "hymen", "lumen", "omen", "amen", "stamen", "ramen", "semen",
    "cyclamen",
})


def morphy_noun(word: str) -> str:
    """Lemmatize one lowercase token as a noun — the hermetic twin of
    `WordNetLemmatizer().lemmatize(word)` (pos='n' default)."""
    if not word:
        return word
    hit = NOUN_EXCEPTIONS.get(word)
    if hit is not None:
        return hit
    if word in KEEP_AS_IS or word in IE_LEMMAS:
        return word
    n = len(word)
    if word.endswith("men") and n > 3:
        if word in MEN_LEMMAS:
            return word
        return word[:-3] + "man"
    if not word.endswith("s") or n <= 3:
        # no detachment rule applies (or too short to be a plural —
        # "gas"/"bus"-class words stay put, as Morphy's dictionary
        # screen would keep them)
        return word
    # -ss / -us / -is endings are overwhelmingly lemmas (glass, status,
    # basis); Morphy's dictionary check leaves them unchanged
    if word.endswith(("ss", "us", "is")):
        return word
    if word.endswith("ies") and n > 4:
        stem = word[:-3]
        if stem + "ie" in IE_LEMMAS:
            return stem + "ie"
        return stem + "y"
    if word.endswith("ves") and n > 4:
        if word in VES_TO_F:
            return word[:-3] + "f"
        return word[:-1]  # regular: "caves" -> "cave"
    if word.endswith("ses") and n > 4:
        return word[:-2]  # "glasses" -> "glass" ("ses"->"s")
    if word.endswith(("xes", "zes", "ches", "shes")):
        return word[:-2]  # "boxes"->"box", "benches"->"bench"
    return word[:-1]  # regular plural: "s" -> ""

