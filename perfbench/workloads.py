"""Seeded input generator for the linkage benchmark.

Every workload is a pure function of (workload, seed): the same pair always
yields byte-identical parquet files. The generator runs in plain Python
before any Spark session exists, so none of its cost lands in a measured
number. The program under test receives only the files written here (read
back through ``entity_linkings_spark.sources``); the planted gold stays with
the benchmark.

Files per (workload, seed), under ``<root>/<workload>-s<seed>-<version+size>/``:

    transcripts.parquet        (conv_id, turn_idx, role, text, tool, ts)
    entity_dictionary.parquet  (id, name, description, aliases)
    gold_mentions.parquet      (conv_id, turn_idx, start, end, label, in_kb)
    stream/part-<i>.parquet    the transcripts split by conversation into
                               STREAM_FILES files, for the streaming path
    sizes.json                 input sizes recorded with every result

The chat dictionary is a data file of the benchmark (``chat_entities.json``),
not a call into the program, so a change to the program cannot change the
inputs it is measured on.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
from dataclasses import dataclass
from typing import NamedTuple

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Bumped whenever generated data changes, so stale caches are never reused.
GENERATOR_VERSION = 3
# Files the transcripts are split into for incremental_linkage: one per trigger.
STREAM_FILES = 2
ENTITIES_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "chat_entities.json")


class Entity(NamedTuple):
    id: str
    name: str
    aliases: list[str]
    in_kb: bool  # False: mentioned, but absent from the dictionary (NIL)


@dataclass(frozen=True)
class Spec:
    kind: str  # "chat" (fixed ~200-entity dictionary) or "dense" (Zipf names)
    n_convs: int
    turns_per_conv: int
    n_names: int = 0  # dense only: names generated, about 20% left out


# Sizes keep one benchmark run (session start, one cold and one warm request,
# the checks) near a minute on a 4-vCPU box; perfbench/README.md says why.
WORKLOADS: dict[str, Spec] = {
    "chat_turns": Spec("chat", n_convs=250, turns_per_conv=8),
    "dense_dictionary": Spec("dense", n_convs=200, turns_per_conv=8, n_names=260),
}

_DICTIONARY = pa.schema([
    ("id", pa.string()), ("name", pa.string()), ("description", pa.string()),
    ("aliases", pa.list_(pa.string())),
])
_BASE_TS = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
_ROLES = ("user", "assistant", "tool")
_TOOLS = ("search", "calculator", "code_exec", "file_read", "web_fetch")

# Clause templates start lowercase so several can share one turn without a
# capitalized sentence opener gluing itself onto the previous mention.
_CLAUSES = (
    "i was reading about {M} earlier today",
    "can you tell me more about {M}",
    "the report mentions {M} twice",
    "{M} came up in the meeting notes",
    "we compared {M} with the previous results",
    "according to the wiki {M} was founded long ago",
    "let me look up {M} for you",
    "the answer involves {M} and nothing else",
)
_FILLER = (
    "Thanks, that helps a lot.",
    "Understood, proceeding with the plan.",
    "Running the requested tool now.",
    "Here is the summary you asked for.",
    "The weather data looks unremarkable today.",
)
# Out-of-dictionary family names for chat-shaped NIL persons; each NIL
# person keeps a dictionary first name, so the extractor still anchors it.
_NIL_LAST = (
    "Lindqvist", "Oyelaran", "Brandvold", "Castellanos", "Draganova",
    "Eskildsen", "Fairweather", "Gundersen", "Hollingsworth", "Iwasawa",
    "Jovanovski", "Kowalczyk",
)
_SYLLABLES = (
    "ka", "ro", "mi", "ten", "sul", "vor", "ba", "lin", "dre", "qua", "zo",
    "pel", "ny", "gar", "tes", "fi", "mon", "ur", "ash", "kel", "vi", "dun",
    "sa", "tor", "el", "bri", "hap", "ol", "wen", "cy",
)


def _typo(s: str, rng: random.Random) -> str:
    """One edit strictly inside a word (transpose, delete or duplicate)."""
    inner = [
        i for i in range(1, len(s) - 1)
        if s[i] != " " and s[i - 1] != " " and s[i + 1] != " "
    ]
    if not inner:
        return s
    i = rng.choice(inner)
    kind = rng.randrange(3)
    if kind == 0:
        return s[:i] + s[i + 1] + s[i] + s[i + 2:]
    if kind == 1:
        return s[:i] + s[i + 1:]
    return s[:i] + s[i] + s[i:]


def _variant(name: str, aliases: list[str], rng: random.Random) -> str:
    """Title, UPPER, lower, alias or typo surface of ``name``."""
    r = rng.random()
    if r < 0.40:
        return name
    if r < 0.52:
        return name.upper()
    if r < 0.64:
        return name.lower()
    if r < 0.80 and aliases:
        return rng.choice(aliases)
    return _typo(name, rng)


def _chat_entities(rng: random.Random) -> tuple[pd.DataFrame, list[Entity]]:
    """The ~200-entity chat dictionary (persons, organizations with shared
    first tokens, places, and the NIL row) plus up to 40 out-of-dictionary
    persons."""
    with open(ENTITIES_FILE) as f:
        dic = pd.DataFrame(json.load(f))
    ents = dic[dic["id"] != "-1"]
    known = [(r.id, r.name, list(r.aliases)) for r in ents.itertuples()]
    firsts = sorted({
        r.name.split()[0] for r in ents.itertuples()
        if (r.description or "").endswith("person entity.")
    })
    nil = sorted({f"{rng.choice(firsts)} {rng.choice(_NIL_LAST)}" for _ in range(40)})
    out = [Entity(eid, name, al, True) for eid, name, al in known]
    out += [Entity(f"nil{i:04d}", name, [], False) for i, name in enumerate(nil)]
    return dic, out


def _zipf_names(n_names: int) -> list[str]:
    """Distinct 2-3 word names over a Zipf-weighted pseudo-word vocabulary:
    a few words recur in a large share of names, which makes hot blocks.
    The pool is the same for every seed, so block sizes, and with them the
    pair counts, do not swing from seed to seed; the seed picks which names
    the dictionary leaves out and how they are mentioned."""
    rng = random.Random("dense_dictionary-names")
    vocab: list[str] = []
    seen = set()
    while len(vocab) < 500:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.choice((2, 3))))
        if len(w) >= 4 and w not in seen:
            seen.add(w)
            vocab.append(w.capitalize())
    weights = [1.0 / (i + 1) ** 1.3 for i in range(len(vocab))]
    names: list[str] = []
    taken = set()
    while len(names) < n_names:
        k = rng.choice((2, 2, 3))
        words: list[str] = []
        while len(words) < k:
            w = rng.choices(vocab, weights)[0]
            if w not in words:
                words.append(w)
        name = " ".join(words)
        if name.lower() not in taken:
            taken.add(name.lower())
            names.append(name)
    return names


def _dense_entities(rng: random.Random, n_names: int):
    """The Zipf name pool with a seeded 20% of the names left out of the
    dictionary (they are still mentioned)."""
    names = _zipf_names(n_names)
    out = []
    rows = []
    for i, name in enumerate(names):
        if rng.random() < 0.2:
            out.append(Entity(f"nil{i:05d}", name, [], False))
        else:
            eid = f"{i:06d}"
            rows.append({"id": eid, "name": name, "description": None, "aliases": []})
            out.append(Entity(eid, name, [], True))
    rows.append({"id": "-1", "name": "[NIL]", "description": None, "aliases": []})
    return pd.DataFrame(rows), out


def generate(workload: str, seed: int):
    """(transcripts, gold, dictionary, sizes) as pandas frames + a dict."""
    spec = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    if spec.kind == "chat":
        dic, ents = _chat_entities(rng)
        max_clauses = 3
    else:
        dic, ents = _dense_entities(rng, spec.n_names)
        max_clauses = 1
    in_kb = [e for e in ents if e.in_kb]
    nil = [e for e in ents if not e.in_kb]

    t_rows, g_rows = [], []
    for ci in range(spec.n_convs):
        conv_id = f"conv-{ci:06d}"
        if spec.kind == "chat":
            # a conversation revisits a small pool: co-reference pressure
            pool = rng.sample(in_kb, 4) + ([rng.choice(nil)] if rng.random() < 0.3 else [])
        else:
            pool = ents
        for ti in range(spec.turns_per_conv):
            role = _ROLES[ti % 3]
            clauses, spans = [], []
            if spec.kind == "dense" or rng.random() >= 0.2:
                pos = 0
                for k in range(rng.randint(1, max_clauses)):
                    ent = rng.choice(pool)
                    surface = _variant(ent.name, ent.aliases, rng)
                    clause = rng.choice(_CLAUSES)
                    if k:
                        clause = "and " + clause
                    at = pos + clause.index("{M}")
                    spans.append((at, at + len(surface), ent))
                    clause = clause.replace("{M}", surface)
                    clauses.append(clause)
                    pos += len(clause) + 2  # the ", " joiner
                text = ", ".join(clauses) + "."
                text = text[0].upper() + text[1:]
            else:
                text = rng.choice(_FILLER)
            for start, end, ent in spans:
                g_rows.append({
                    "conv_id": conv_id, "turn_idx": ti, "start": start, "end": end,
                    "label": [ent.id], "in_kb": ent.in_kb,
                })
            t_rows.append({
                "conv_id": conv_id, "turn_idx": ti, "role": role, "text": text,
                "tool": rng.choice(_TOOLS) if role == "tool" else "",
                "ts": _BASE_TS + dt.timedelta(hours=ci % 997, minutes=ti),
            })

    transcripts = pd.DataFrame(t_rows)
    transcripts["turn_idx"] = transcripts["turn_idx"].astype("int32")
    gold = pd.DataFrame(g_rows)
    for c in ("turn_idx", "start", "end"):
        gold[c] = gold[c].astype("int32")
    mentioned = set(gold["label"].str[0])
    sizes = {
        "turns": len(transcripts),
        "gold_mentions": len(gold),
        "entities": int((dic["id"] != "-1").sum()),
        "mentioned_entities": len(mentioned),
        "nil_entities_mentioned": sum(e.id in mentioned for e in nil),
        "nil_mention_share": round(float((~gold["in_kb"]).mean()), 4),
    }
    return transcripts, gold, dic, sizes


def ensure_inputs(workload: str, seed: int, root: str) -> dict:
    """Write (once) and return the input paths and sizes for (workload, seed)."""
    spec = WORKLOADS[workload]
    out = os.path.join(
        root, f"{workload}-s{seed}-v{GENERATOR_VERSION}"
        f"-{spec.n_convs}x{spec.turns_per_conv}n{spec.n_names}")
    meta = os.path.join(out, "sizes.json")
    paths = {
        "dir": out,
        "transcripts": os.path.join(out, "transcripts.parquet"),
        "entity_dictionary": os.path.join(out, "entity_dictionary.parquet"),
        "gold_mentions": os.path.join(out, "gold_mentions.parquet"),
        "stream": os.path.join(out, "stream"),
    }
    if not os.path.exists(meta):
        transcripts, gold, dic, sizes = generate(workload, seed)
        tmp = out + ".tmp"
        os.makedirs(tmp, exist_ok=True)
        # microsecond timestamps: Spark's parquet reader rejects pandas' ns
        ts_opts = {"coerce_timestamps": "us", "allow_truncated_timestamps": True}
        transcripts.to_parquet(os.path.join(tmp, "transcripts.parquet"), index=False, **ts_opts)
        pq.write_table(pa.Table.from_pandas(dic, schema=_DICTIONARY, preserve_index=False),
                       os.path.join(tmp, "entity_dictionary.parquet"))
        gold.to_parquet(os.path.join(tmp, "gold_mentions.parquet"), index=False)
        os.makedirs(os.path.join(tmp, "stream"))
        convs = transcripts["conv_id"].drop_duplicates().tolist()
        per_file = -(-len(convs) // STREAM_FILES)
        for i in range(STREAM_FILES):
            part = transcripts[transcripts["conv_id"].isin(convs[i * per_file:(i + 1) * per_file])]
            part.to_parquet(os.path.join(tmp, "stream", f"part-{i}.parquet"), index=False,
                            **ts_opts)
        with open(os.path.join(tmp, "sizes.json"), "w") as f:
            json.dump(sizes, f)
        if os.path.exists(out):
            shutil.rmtree(out)
        os.rename(tmp, out)
    with open(meta) as f:
        paths["sizes"] = json.load(f)
    return paths
