"""Seeded input generators for the benchmark workloads.

Every function here is a pure function of its arguments: the same seed
gives the same rows.  The program under test only sees what these
functions produce (written to parquet by the harness) plus the package's
own fixture vocabulary and lexicon.
"""

from __future__ import annotations

import os
import random
from datetime import date, datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

VALID_START = date(1970, 1, 1)
VALID_END = date(2099, 12, 31)
_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)

# Word material for the wide vocabulary.  No letter 'x' anywhere, so the
# typo rule below (which ends a token in 'x') can never produce a token
# that exists in the vocabulary.
_ONSETS = [
    "b", "br", "c", "ch", "d", "dr", "f", "fl", "g", "gr", "h", "j", "k",
    "kl", "l", "m", "n", "p", "pl", "qu", "r", "s", "sk", "st", "t", "tr",
    "v", "w", "z",
]
_NUCLEI = ["a", "e", "i", "o", "u", "ae", "ia", "ou", "ei", "oa"]
_CODAS = ["", "n", "r", "l", "s", "m", "t", "nd", "rk", "ng"]
_DOMAINS = ["Condition", "Measurement", "Procedure", "Observation"]

_TEMPLATES = [
    "Patient reports {m} during the visit.",
    "Assessment notes {m} ongoing.",
    "Plan: monitor {m} closely.",
    "History significant for {m}.",
    "Discussed {m} with the patient.",
]
_FILLERS = [
    "please review the chart notes",
    "follow up visit scheduled next month",
    "vitals were within expected limits",
    "no new complaints were voiced today",
    "will continue current plan unchanged",
    "summary sent to the referring office",
]
_TOOLS = ["search", "lookup", "ehr_query"]
_STOP = {
    w for s in _TEMPLATES + _FILLERS for w in s.lower().replace(".", " ").split()
}

CONCEPT_ARROW = pa.schema(
    [
        ("concept_id", pa.int32()),
        ("concept_name", pa.string()),
        ("domain_id", pa.string()),
        ("vocabulary_id", pa.string()),
        ("concept_class_id", pa.string()),
        ("standard_concept", pa.string()),
        ("concept_code", pa.string()),
        ("valid_start_date", pa.date32()),
        ("valid_end_date", pa.date32()),
        ("invalid_reason", pa.string()),
    ]
)
TRANSCRIPTS_ARROW = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)


def write_parquet(path: str, rows: list[tuple], schema: pa.Schema) -> None:
    """Write ``rows`` (tuples in schema order) as one parquet file under the
    directory ``path``."""
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table(
        {f.name: pa.array(list(c), f.type) for f, c in zip(schema, cols)},
        schema=schema,
    )
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


# ------------------------------------------------------------ wide vocab
def _word_pool(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_NUCLEI) + rng.choice(_CODAS)
            for _ in range(rng.choice([2, 2, 3]))
        )
        if len(w) >= 4 and w not in _STOP:
            words.add(w)
    return sorted(words)


def reorder(name: str) -> str:
    """Word-rotated variant: same token set, different string."""
    toks = name.split()
    return " ".join(toks[1:] + toks[:1])


def typo(name: str) -> str:
    """Last-token typo (the fixture lexicon's rule): one token no longer
    matches, so the reranker's token-set score drops below the accept
    threshold for names of up to six tokens."""
    toks = name.split()
    toks[-1] = toks[-1][:-2] + "x" if len(toks[-1]) > 3 else toks[-1] + "x"
    return " ".join(toks)


def wide_vocabulary(seed: int, n_concepts: int) -> list[tuple]:
    """``n_concepts`` standard concepts with 3-5-token names whose token
    sets are pairwise distinct (so only a concept's own name or its
    reordering scores 1.0 against it).  Rows follow the fixture
    ``CONCEPT_SCHEMA`` column order."""
    rng = random.Random(f"wide-vocab:{seed}")
    pool = _word_pool(rng, max(2000, n_concepts // 3))
    seen: set[frozenset] = set()
    rows = []
    while len(rows) < n_concepts:
        toks = rng.sample(pool, rng.choice([3, 4, 4, 5]))
        key = frozenset(toks)
        if key in seen:
            continue
        seen.add(key)
        i = len(rows)
        rows.append(
            (
                3_000_000 + i,
                " ".join(toks),
                _DOMAINS[i % len(_DOMAINS)],
                "SNOMED",
                "Clinical Finding",
                "S",
                f"W{i:07d}",
                VALID_START,
                VALID_END,
                None,
            )
        )
    return rows


def wide_lexicon(
    seed: int, concept_rows: list[tuple], n_forms: int
) -> tuple[list[dict], dict[str, tuple[str, int]]]:
    """Lexicon of ``n_forms`` surface forms over distinct sampled concepts,
    a third each exact, reordered and typo variants.  Returns the lexicon
    (``{mention_text, is_drug}`` rows) and the truth map
    ``form -> (kind, source concept_id)``."""
    rng = random.Random(f"wide-lex:{seed}")
    picked = rng.sample(concept_rows, min(n_forms, len(concept_rows)))
    lexicon, truth = [], {}
    for i, row in enumerate(picked):
        kind = ("exact", "reordered", "typo")[i % 3]
        name = row[1]
        form = name if kind == "exact" else reorder(name) if kind == "reordered" else typo(name)
        lexicon.append({"mention_text": form, "is_drug": False})
        truth[form] = (kind, row[0])
    return lexicon, truth


def _turn_text(rng: random.Random, mentions: list[str]) -> str:
    parts = [rng.choice(_FILLERS)]
    parts += [rng.choice(_TEMPLATES).format(m=m) for m in mentions]
    parts.append(rng.choice(_FILLERS))
    return " ".join(parts)


def _turn_row(rng, conv_id, turn_idx, conv_ordinal, text) -> tuple:
    if rng.random() < 0.10:
        role, tool = "tool", rng.choice(_TOOLS)
    else:
        role, tool = ("user" if turn_idx % 2 == 0 else "assistant"), None
    ts = _EPOCH + timedelta(seconds=conv_ordinal * 60 + turn_idx)
    return (conv_id, turn_idx, role, text, tool, ts)


def wide_transcripts(seed: int, forms: list[str], n_turns: int) -> list[tuple]:
    """``n_turns`` turns in conversations of 2-8 turns, each turn carrying
    1-2 mentions.  Forms are dealt from a shuffled deck first, so every form
    occurs at least once when ``n_turns`` allows it."""
    rng = random.Random(f"wide-turns:{seed}")
    deck = list(forms)
    rng.shuffle(deck)
    rows, conv_i = [], 0
    while len(rows) < n_turns:
        conv_id = f"wconv-{conv_i:07d}"
        for turn_idx in range(rng.randint(2, 8)):
            if len(rows) >= n_turns:
                break
            ms = [deck.pop() if deck else rng.choice(forms) for _ in range(rng.choice([1, 1, 2]))]
            rows.append(_turn_row(rng, conv_id, turn_idx, conv_i, _turn_text(rng, ms)))
        conv_i += 1
    return rows


# ------------------------------------------------------------ fold batches
HOT_FORMS = 3  # the fixture lexicon's first three forms are the hot keys
NEW_FORM_EVERY = 2


def fold_split(
    seed: int, forms: list[str], n_withheld: int, linkable: set[str]
) -> tuple[list[str], list[str]]:
    """Split the lexicon into (base forms, withheld forms).  Withheld forms
    are drawn from ``linkable`` (forms whose link is accepted), so every
    fold that brings one adds an edge and does the same work; they never
    occur in the base corpus, and hot forms are never withheld."""
    rng = random.Random(f"fold-split:{seed}")
    cold = [f for f in forms[HOT_FORMS:] if f in linkable]
    rng.shuffle(cold)
    withheld = sorted(cold[:n_withheld])
    return [f for f in forms if f not in set(withheld)], withheld


def conversations(
    seed: int, forms: list[str], start: int, n_convs: int, tag: str = "conv"
) -> list[tuple]:
    """Fixture-shaped conversations (2-12 turns, 0-3 mentions per turn, 45 %
    of mentions drawn from the first three forms) with ordinals
    ``start .. start + n_convs - 1``."""
    hot = forms[:HOT_FORMS]
    rows = []
    for conv_i in range(start, start + n_convs):
        rng = random.Random(f"{tag}:{seed}:{conv_i}")
        conv_id = f"{tag}-{conv_i:07d}"
        for turn_idx in range(rng.randint(2, 12)):
            ms = [
                rng.choice(hot) if rng.random() < 0.45 else rng.choice(forms)
                for _ in range(rng.choice([0, 1, 1, 2, 2, 3]))
            ]
            rows.append(_turn_row(rng, conv_id, turn_idx, conv_i, _turn_text(rng, ms)))
    return rows


def fold_batch(
    seed: int, base_forms: list[str], withheld: list[str], batch: int,
    start: int, n_convs: int,
) -> tuple[list[tuple], list[str]]:
    """Delta batch ``batch``: ``n_convs`` new conversations over the base
    forms.  Every ``NEW_FORM_EVERY``-th batch (batches 0, 2, 4, ...) also
    carries the next withheld form while any remain, so that fold links a
    new mention and merges a graph delta; the other batches hold only
    known forms and take the resume-no-op link path.  Any run of
    ``NEW_FORM_EVERY`` batches starting at 1, 3, ... ends with exactly one
    new form.  Returns (rows, withheld forms introduced)."""
    rows = conversations(seed, base_forms, start, n_convs, tag=f"delta{batch}")
    new = []
    k = batch // NEW_FORM_EVERY
    if batch % NEW_FORM_EVERY == 0 and k < len(withheld):
        new = [withheld[k]]
        rng = random.Random(f"fold-new:{seed}:{batch}")
        for j in range(3):
            conv_id = f"delta{batch}-new-{j}"
            rows.append(
                _turn_row(rng, conv_id, 0, start + n_convs + j,
                          _turn_text(rng, new))
            )
    return rows, new


# ------------------------------------------------------ operator tables
def operator_tables(seed: int, root: str) -> dict[str, str]:
    """The four tables the operator mix reads (``lineitem``, ``embeddings``,
    ``events``, ``documents``), shaped like the project's sf test data at
    a small scale.  Written as ``<root>/<name>.parquet``."""
    rng = random.Random(f"ops:{seed}")
    os.makedirs(root, exist_ok=True)
    paths = {}

    def put(name, schema, rows):
        p = os.path.join(root, f"{name}.parquet")
        cols = list(zip(*rows))
        pq.write_table(
            pa.table({f.name: pa.array(list(c), f.type) for f, c in zip(schema, cols)},
                     schema=schema),
            p,
        )
        paths[name] = p

    li_rows = []
    for ok in range(1, 600):
        for ln in range(1, rng.randint(1, 7) + 1):
            li_rows.append((
                ok, rng.randint(1, 2000), rng.randint(1, 100), ln,
                float(rng.randint(1, 50)), round(rng.uniform(900, 100000), 2),
                round(rng.randint(0, 10) / 100, 2), round(rng.randint(0, 8) / 100, 2),
                rng.choice("ANR"), rng.choice("OF"),
                datetime(1995, 1, 1) + timedelta(days=rng.randint(0, 2000)),
            ))
    put("lineitem", pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
        ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us")),
    ]), li_rows)

    emb_rows = [
        (i, [round(rng.gauss(0, 0.15), 6) for _ in range(64)], rng.randint(0, 9))
        for i in range(800)
    ]
    put("embeddings", pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32()),
    ]), emb_rows)

    ev_rows, t = [], datetime(2024, 1, 1)
    for i in range(4000):
        t += timedelta(microseconds=rng.randint(1, 60_000_000))
        ev_rows.append((
            i, t, rng.randint(0, 300),
            rng.choice(["signup", "purchase", "view", "click", "error"]),
            round(rng.uniform(0, 200), 2), f'{{"k": {rng.randint(0, 99)}}}',
        ))
    put("events", pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
    ]), ev_rows)

    vocab = ("spark line column order small sort fast value scan hash slow group "
             "batch agg filter query a big key window row part table stream merge "
             "data join vector customer the").split()
    doc_rows = []
    for i in range(800):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(10, 100)))
        doc_rows.append((i, text, rng.choice(["en", "de", "zh"]), f"src{i % 5}", len(text)))
    put("documents", pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ]), doc_rows)
    return paths
