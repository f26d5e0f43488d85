"""Reference-shaped record matching — exact semantic parity functions.

The graft engine (amp.pipeline) targets code records; this module keeps
byte-level parity with the reference's *address-record* semantics so the
scorer can be validated against the worked example in the reference
README (§Examples: exact expected score / trigram_cosine_* /
bin_key_match values) and the standardizer golden cases
(tests/standardizer_test.go:9-79).

Every function documents its reference citation. The functions are
scalar; amp.address_pipeline runs them inside Arrow-batched mapInPandas
kernels (the reference's goroutine worker pools,
internal/matcher/shared.go:104-167, collapse into those).

Parity caveat, established empirically: the README worked example's
`trigram_cosine_*` values match this implementation bit-for-bit
(e.g. cosine('7922 iron oak gardens', '547 cinder oak glade') =
0.3429971702850177), but its `score` values are NOT reproducible from
the reference's own current code — plugging the README's own displayed
feature values into the matcher.go:180-208 weights yields ~79.5 for
candidate 2, not the printed 28.96 (the README also shows cosine 1.0
for empty-vs-empty phone numbers, while ngramFrequencySimilarity
returns 0.0 for any empty input, ngram_similarity.go:97-100). The
README predates the current scorer; this module follows the CODE.
"""

from __future__ import annotations

import math
import string
from collections import Counter

# internal/matcher/standardizer.go:10-36 — 26-entry USPS abbreviation map
ABBREVIATIONS = {
    "avenue": "ave", "boulevard": "blvd", "parkway": "pkwy", "circle": "cir",
    "court": "ct", "center": "ctr", "drive": "dr", "highway": "hwy",
    "lane": "ln", "place": "pl", "road": "rd", "street": "st",
    "terrace": "ter", "northwest": "nw", "southeast": "se", "southwest": "sw",
    "northeast": "ne", "unit": "unit", "suite": "ste", "apartment": "apt",
    "floor": "fl", "north": "n", "south": "s", "east": "e", "west": "w",
}

_UNIT_WORDS = {"unit", "ste", "apt", "fl"}


def standardize_address(street: str) -> str:
    """StandardizeAddress (internal/matcher/standardizer.go:40-72):
    lowercase+trim, strip punctuation/symbols, collapse whitespace,
    strip '#' from tokens following unit/ste/apt/fl, apply abbreviations.

    Note the reference strips the '#' BEFORE abbreviation is applied to
    the preceding word only when the preceding word is already
    abbreviated ('unit', 'ste', 'apt', 'fl') — 'suite #5' keeps the '#'
    until 'suite' -> 'ste' happens on the same pass, i.e. the check sees
    the *already rewritten* previous word (Go loop order,
    standardizer.go:58-68)."""
    s = street.strip().lower()
    # unicode.IsPunct || unicode.IsSymbol — ASCII approximation suffices
    # for test data; Python's categories P* and S* mirror Go's.
    import unicodedata

    s = "".join(
        ch for ch in s if not unicodedata.category(ch).startswith(("P", "S"))
    )
    words = s.split()
    for i in range(len(words)):
        if i > 0 and words[i - 1] in _UNIT_WORDS:
            words[i] = words[i].removeprefix("#")
        words[i] = ABBREVIATIONS.get(words[i], words[i])
    return " ".join(words)


def is_numeric(s: str) -> bool:
    """IsNumeric (standardizer.go:75-82): all-digit check; '' -> True."""
    return all(ch in string.digits for ch in s)


def normalize_string(s: str) -> str:
    """normalizeString (internal/matcher/ngram_similarity.go:52-61):
    keep letters+digits only, lowercase."""
    return "".join(ch.lower() for ch in s if ch.isalnum())


def ngrams(s: str, n: int) -> list[bytes]:
    """ngrams (ngram_similarity.go:39-49): normalize, then n-grams over
    UTF-8 BYTES — the reference slices Go byte strings, so multi-byte
    letters that survive normalize_string produce byte-grams, not
    rune-grams; whole string if shorter than n. (Grams are only ever
    consumed as Counter keys, so bytes vs str is invisible to callers.)"""
    norm = normalize_string(s).encode("utf-8")
    if len(norm) < n:
        return [norm]
    return [norm[i : i + n] for i in range(len(norm) - n + 1)]


def cosine_similarity_ngrams(a: list[str], b: list[str]) -> float:
    """cosineSimilarity (ngram_similarity.go:64-85): cosine over integer
    n-gram frequency vectors; 0.0 when either magnitude is 0."""
    fa, fb = Counter(a), Counter(b)
    dot = sum(v * fb[k] for k, v in fa.items() if k in fb)
    mag_a = sum(v * v for v in fa.values())
    mag_b = sum(v * v for v in fb.values())
    if mag_a == 0 or mag_b == 0:
        return 0.0
    return dot / (math.sqrt(mag_a) * math.sqrt(mag_b))


def ngram_frequency_similarity(s1: str, s2: str, n: int = 2) -> float:
    """ngramFrequencySimilarity (ngram_similarity.go:97-104). The
    reference calls this with n=2 for all six 'trigram_cosine_*' output
    fields (misnomer preserved deliberately; matcher.go:172-177)."""
    if s1 == "" or s2 == "":
        return 0.0
    return cosine_similarity_ngrams(ngrams(s1, n), ngrams(s2, n))


def derive_anchors(
    streets: list[str], k: int = 10, seed: int = 42, iters: int = 25
) -> list[str]:
    """Regenerate binary-key anchor strings for a NEW domain — the
    public-knowledge analog of the reference's anchor derivation
    (python-ml/reference_entities.py: KMeans over street vectors, the
    winners frozen into scripts/init_db.sql:138-150). Lloyd's KMeans
    over hashing-trick embeddings (no model downloads), seeded init and
    fixed iteration budget so the output is deterministic; each
    cluster contributes its nearest-to-centroid street. Feed the result
    to calculate_binary_key(street, refs=...)."""
    import numpy as np

    from .address_pipeline import _embed

    uniq = sorted(set(s for s in streets if s))
    if len(uniq) < k:
        raise ValueError(f"need at least k={k} distinct non-empty streets, got {len(uniq)}")
    X = np.stack([_embed(s.lower()) for s in uniq])
    rng = np.random.RandomState(seed)
    centroids = X[rng.choice(len(uniq), size=k, replace=False)]
    for _ in range(iters):
        d = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)
    d = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    anchors = []
    taken: set[int] = set()
    for j in range(k):
        # nearest not-yet-taken street to centroid j (clusters can be
        # empty after Lloyd steps; argsort makes the pick total)
        for idx in np.argsort(d[:, j]):
            if int(idx) not in taken:
                taken.add(int(idx))
                anchors.append(uniq[int(idx)])
                break
    return anchors


# scripts/init_db.sql:138-150 — the 10 anchor strings for the binary key
REFERENCE_ENTITIES = [
    "9533 little forest",
    "4806 sunny forest heath",
    "4103 hidden pioneer gate",
    "1306 fallen mountain glade",
    "1534 cinder view thicket",
    "5103 burning embers green",
    "4565 quiet fox hill",
    "2909 gentle fawn round",
    "1221 rustic dale",
    "7910 bright grove stead",
]


def calculate_binary_key(street: str, refs: list[str] | None = None) -> str:
    """CalculateBinaryKey (internal/matcher/shared.go:79-101): 10 bits,
    bit i = 1 iff bigram-frequency-cosine(street, ref_i) >= 0.1;
    zero-padded/truncated to exactly 10 chars."""
    refs = refs if refs is not None else REFERENCE_ENTITIES
    bits = "".join(
        "1" if ngram_frequency_similarity(street, ref, 2) >= 0.1 else "0"
        for ref in refs
    )
    return (bits + "0" * 10)[:10]


# internal/matcher/matcher.go:183-193 — composite weights
WEIGHTS = {
    "similarity": 0.25, "tfidf": 0.2, "firstName": 0.1, "lastName": 0.1,
    "street": 0.1, "city": 0.1, "phoneNumber": 0.05, "zipCode": 0.05,
    "binKeyMatch": 0.05,
}


def composite_score(
    similarity: float,
    tfidf_score: float,
    cos_first: float,
    cos_last: float,
    cos_street: float,
    cos_city: float,
    cos_phone: float,
    cos_zip: float,
    bin_key_match: bool,
) -> float:
    """matcher.go:180-208: weighted sum of (1-similarity), tfidf dot and
    the six bigram cosines + binary-key flag, scaled x100 and clamped to
    [1, 100]."""
    w = WEIGHTS
    s = (
        (1.0 - similarity) * w["similarity"]
        + tfidf_score * w["tfidf"]
        + cos_first * w["firstName"]
        + cos_last * w["lastName"]
        + cos_street * w["street"]
        + cos_city * w["city"]
        + cos_phone * w["phoneNumber"]
        + cos_zip * w["zipCode"]
        + (1.0 if bin_key_match else 0.0) * w["binKeyMatch"]
    )
    return max(1.0, min(100.0, s * 100.0))
