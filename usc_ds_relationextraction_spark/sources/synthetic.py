"""Deterministic synthetic corpus: transcripts + KB dimensions.

BASELINE.json ``input_hint`` mandates the input shape
``(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp)``; FIXTURES.md §1-§5 specifies the companion dimensions
(``kb_aliases``, ``kb_facts``, ``brown_clusters``).  No external data: every
value is a pure function of (seed, ids) via the portable md5-derived hash
(:mod:`..functions.hashing`), so the corpus is identical for any
partitioning, parallelism level, or engine — the property the correctness
gate and the N-vs-4N scaling benchmark both rely on.

Scale design: the transcripts table is built distributed —
``spark.range(n_convs)`` → explode per-turn → explode per-sentence →
two broadcast joins against the 100-row entity dimension to inline surface
names → windowless re-assembly of turn text.  At 10^12 turns this is the
same plan: range is split across executors, the entity dim broadcasts, and
the only shuffle is the final per-turn sentence concat (keyed by
(conv_id, turn_idx) — dense, skew-free key).

Hub skew is intentional: entity index = floor(E * u^3) concentrates ~20%
of all mentions on entity 0, exercising the salted-broadcast-join and
AQE-skew paths the north_star names explicitly.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import h64, h64_py, pick, u01

SEED = 42

# ---------------------------------------------------------------- KB design
FIRST = ["Alice", "Bob", "Carol", "David", "Erin", "Frank", "Grace", "Henry",
         "Irene", "Jack", "Karen", "Liam", "Mona", "Nate", "Olga", "Paul",
         "Quinn", "Rosa", "Sam", "Tina"]
LAST = ["Smith", "Jones", "Chen", "Patel", "Garcia", "Kim", "Okafor", "Rossi",
        "Novak", "Haddad", "Silva", "Murphy", "Tanaka", "Weber", "Dubois",
        "Larsen", "Moreau", "Fischer", "Kowal", "Bianchi"]
ORGA = ["Acme", "Globex", "Initech", "Umbrella", "Hooli", "Vandelay",
        "Wonka", "Stark", "Wayne", "Tyrell", "Cyberdyne", "Aperture",
        "Monarch", "Sirius", "Oscorp"]
ORGB = ["Corp", "Labs"]
LOC = ["Springfield", "Rivertown", "Lakeside", "Hillcrest", "Meadowbrook",
       "Stonebridge", "Fairview", "Oakdale", "Maplewood", "Cedarville",
       "Brookfield", "Ashford", "Winterfell", "Sunnyvale", "Greendale",
       "Northgate", "Eastwood", "Westfield", "Southport", "Midvale",
       "Harborview", "Pinehurst", "Elmwood", "Foxglove", "Granville",
       "Kingsport", "Lindenfield", "Redwood", "Silverlake", "Thornbury"]
TOOLS = ["search", "calculator", "browser", "sql", "code_exec"]

N_PERSON, N_ORG, N_LOC = 40, 30, 30

# relation vocabulary, KBP-flavoured path names (reference type.txt analog)
REL_WORKS_AT = "/business/person/company"
REL_BORN_IN = "/people/person/place_of_birth"
REL_BASED_IN = "/business/company/place_founded"
REL_SPOUSE = "/people/person/spouse"
NONE_LABEL = "None"

# sentence templates per pair-kind: (pre, mid, post, a_first)
# tokens are space-delimited (terminal punctuation is its own token) so the
# regex tokenizer round-trips them exactly (per-turn text equality).
TEMPLATES: dict[int, list[tuple[str, str, str, bool]]] = {
    0: [  # person, org -> works_at surface
        ("", " works at ", " .", True),
        ("", " joined ", " last year .", True),
        ("did ", " really leave ", " ?", True),
    ],
    1: [  # person, loc -> born_in surface
        ("", " was born in ", " .", True),
        ("", " grew up near ", " long ago .", True),
    ],
    2: [  # org, loc -> based_in surface
        ("", " is based in ", " .", True),
        ("the offices of ", " are in ", " .", True),
    ],
    3: [  # person, person -> spouse surface
        ("", " is married to ", " .", True),
        ("", " met ", " at the summit .", True),
    ],
}
# pair-bearing but relation-neutral templates: used when NO fact holds for
# the drawn pair — the distant-supervision None class, learnable from text
NEUTRAL: list[tuple[str, str, str, bool]] = [
    ("", " and ", " attended the meeting .", True),
    ("", " spoke with ", " yesterday .", True),
    ("", " thanked ", " for the report .", True),
]
FILLER = [
    "the meeting ran long and nothing was decided .",
    "please summarize the previous discussion .",
    "that is an interesting question .",
    "the report was filed on time .",
    "let me check the records for you .",
]
KIND_REL = {0: REL_WORKS_AT, 1: REL_BORN_IN, 2: REL_BASED_IN, 3: REL_SPOUSE}


def entity_rows() -> list[tuple[str, str, str, int]]:
    """(entity_id, name, type_path, kind) for all 100 entities.

    kind: 0=person 1=org 2=location.  Type paths are 2-level so the
    supertype derivation (reference ``statistic.py:30-50``) has real work.
    """
    rows = []
    for i in range(N_PERSON):
        name = f"{FIRST[i % 20]} {LAST[i // 20]}"
        typ = "/person/politician" if i % 3 == 0 else "/person"
        rows.append((f"e{i:03d}", name, typ, 0))
    for j in range(N_ORG):
        g = N_PERSON + j
        name = f"{ORGA[j % 15]} {ORGB[j // 15]}"
        typ = "/organization/company" if j % 2 == 0 else "/organization"
        rows.append((f"e{g:03d}", name, typ, 1))
    for k in range(N_LOC):
        g = N_PERSON + N_ORG + k
        name = LOC[k]
        typ = "/location/city" if k % 2 == 0 else "/location"
        rows.append((f"e{g:03d}", name, typ, 2))
    return rows


def fact_rows() -> list[tuple[str, str, str]]:
    """Deterministic KB facts (subj_id, obj_id, relation).

    Fact existence is a hash predicate → ~25% of type-compatible pairs hold;
    co-occurring pairs with no fact become distant-supervision ``None``
    examples (the reference's None-type machinery, ``evaluation.py:82-111``).
    """
    ents = entity_rows()
    out = []
    combos = [(0, 1, REL_WORKS_AT), (0, 2, REL_BORN_IN),
              (1, 2, REL_BASED_IN), (0, 0, REL_SPOUSE)]
    for k1, k2, rel in combos:
        subs = [e for e in ents if e[3] == k1]
        objs = [e for e in ents if e[3] == k2]
        for s in subs:
            for o in objs:
                if s[0] == o[0]:
                    continue
                if rel == REL_SPOUSE:
                    # symmetric relation: one draw on the sorted pair,
                    # both directions asserted
                    a, b = min(s[0], o[0]), max(s[0], o[0])
                    if s[0] != a:
                        continue  # emit once per unordered pair
                    if h64_py(f"{SEED}|fact|{rel}|{a}|{b}") % 4 == 0:
                        out.append((a, b, rel))
                        out.append((b, a, rel))
                elif h64_py(f"{SEED}|fact|{rel}|{s[0]}|{o[0]}") % 4 == 0:
                    out.append((s[0], o[0], rel))
    return out


def fact_exists_col(rel: Column, eid_a: Column, eid_b: Column,
                    symmetric: bool) -> Column:
    """Column-expression twin of the :func:`fact_rows` hash predicate —
    lets the generator correlate surface templates with fact existence
    (text states facts; non-fact pairs get NEUTRAL templates)."""
    if symmetric:
        a = F.least(eid_a, eid_b)
        b = F.greatest(eid_a, eid_b)
    else:
        a, b = eid_a, eid_b
    key = F.concat_ws("|", F.lit(str(SEED)), F.lit("fact"), rel, a, b)
    return F.pmod(h64(key), F.lit(4)) == 0


def kb_entities(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        entity_rows(), "entity_id string, name string, entity_type string, kind int"
    )


def kb_aliases(spark: SparkSession) -> DataFrame:
    """Alias dictionary (FIXTURES.md §2): canonical + lowercase surface."""
    ents = entity_rows()
    rows = []
    for eid, name, typ, _ in ents:
        rows.append((name, eid, typ))
        if name.lower() != name:
            rows.append((name.lower(), eid, typ))
    return spark.createDataFrame(rows, "alias string, entity_id string, entity_type string")


def kb_facts(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        fact_rows(), "subj_id string, obj_id string, relation string"
    )


def vocabulary() -> list[str]:
    """Every surface token the generator can emit (for brown_clusters)."""
    toks: set[str] = set()
    for _, name, _, _ in entity_rows():
        toks.update(name.split())
    for tpls in TEMPLATES.values():
        for pre, mid, post, _ in tpls:
            toks.update((pre + " " + mid + " " + post).split())
    for s in FILLER:
        toks.update(s.split())
    toks.update(TOOLS)
    return sorted(toks)


def brown_clusters(spark: SparkSession) -> DataFrame:
    """word -> 20-bit deterministic pseudo Brown-cluster bitstring
    (reference format ``brown_feature.py:9-15``)."""
    rows = []
    for w in vocabulary():
        bits = format(h64_py(f"{SEED}|brown|{w.lower()}") & 0xFFFFF, "020b")
        rows.append((w.lower(), bits))
    return spark.createDataFrame(rows, "word string, cluster string")


def transcripts(spark: SparkSession, n_convs: int, seed: int = SEED) -> DataFrame:
    """Distributed transcript generation.

    Plan: range(n_convs) → explode turns → explode sentences → broadcast
    join entity names (×2) → assemble sentence → groupBy(conv,turn) concat.
    """
    s = F.lit(str(seed))

    conv = (
        spark.range(n_convs)
        .withColumn("conv_id", F.format_string("c%07d", F.col("id")))
        # zipf-ish conversation lengths + a few very long hub conversations
        .withColumn(
            "n_turns",
            (F.lit(3) + pick(F.concat_ws("|", s, F.lit("len"), F.col("conv_id")), "len", 28)
             + F.when(F.col("id") % 97 == 0, F.lit(96)).otherwise(F.lit(0))).cast("int"),
        )
    )
    turns = conv.select(
        "conv_id",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    tkey = F.concat_ws("|", s, F.col("conv_id"), F.col("turn_idx").cast("string"))
    turns = turns.withColumn(
        "role",
        F.when(F.col("turn_idx") % 2 == 0, F.lit("user")).otherwise(
            F.when(pick(tkey, "tool?", 5) == 0, F.lit("tool")).otherwise(F.lit("assistant"))
        ),
    ).withColumn(
        "tool",
        F.when(F.col("role") == "tool",
               F.element_at(F.array(*[F.lit(t) for t in TOOLS]), pick(tkey, "tool", len(TOOLS)) + 1)
               ).otherwise(F.lit(None).cast("string")),
    ).withColumn(
        # monotonically increasing within conv_id (FIXTURES.md §1): a per-
        # conversation hash start offset plus a turn-indexed stride
        "ts",
        F.to_timestamp(F.lit("2025-01-01 00:00:00"))
        + F.make_interval(secs=(h64(F.concat_ws("|", s, F.col("conv_id"))) % 86400)
                          + F.col("turn_idx") * 60 + h64(tkey) % 23),
    ).withColumn("n_sents", (pick(tkey, "nsent", 2) + 1).cast("int"))

    sents = turns.select(
        "conv_id", "turn_idx", "role", "tool", "ts",
        F.explode(F.sequence(F.lit(0), F.col("n_sents") - 1)).alias("sent_idx"),
    )
    skey = F.concat_ws("|", s, F.col("conv_id"), F.col("turn_idx").cast("string"),
                       F.col("sent_idx").cast("string"))
    # 4 entity-pair kinds + 1 filler kind
    sents = sents.withColumn("kind", pick(skey, "kind", 5))

    # hub-skewed entity ordinals within kind groups: floor(n * u^3)
    def skewed(salt: str, n: int):
        u = u01(skey, salt)
        return F.floor(F.lit(n) * u * u * u).cast("int")

    group_size = F.when(F.col("kind").isin(0, 1, 3), F.lit(N_PERSON)).otherwise(
        F.when(F.col("kind") == 2, F.lit(N_ORG)))
    base_a = F.when(F.col("kind").isin(0, 1, 3), F.lit(0)).otherwise(
        F.when(F.col("kind") == 2, F.lit(N_PERSON)))
    obj_size = F.when(F.col("kind") == 0, F.lit(N_ORG)).otherwise(
        F.when(F.col("kind").isin(1, 2), F.lit(N_LOC)).otherwise(
            F.when(F.col("kind") == 3, F.lit(N_PERSON))))
    base_b = F.when(F.col("kind") == 0, F.lit(N_PERSON)).otherwise(
        F.when(F.col("kind").isin(1, 2), F.lit(N_PERSON + N_ORG)).otherwise(
            F.when(F.col("kind") == 3, F.lit(0))))

    u_a = u01(skey, "enta")
    u_b = u01(skey, "entb")
    sents = sents.withColumn(
        "ent_a", F.when(F.col("kind") < 4, (base_a + F.floor(group_size * u_a * u_a * u_a)).cast("int"))
    ).withColumn(
        "ent_b", F.when(F.col("kind") < 4, (base_b + F.floor(obj_size * u_b * u_b * u_b)).cast("int"))
    )
    # avoid self-pairs for spouse kind
    sents = sents.withColumn(
        "ent_b",
        F.when((F.col("kind") == 3) & (F.col("ent_a") == F.col("ent_b")),
               ((F.col("ent_b") + 1) % N_PERSON).cast("int")).otherwise(F.col("ent_b")),
    )

    # inline entity surface names via two broadcast joins against the
    # 100-row entity dimension (global ordinal derived from entity_id)
    ents = kb_entities(spark).select(
        F.substring("entity_id", 2, 3).cast("int").alias("ord"), "name")
    ents_a = ents.select(F.col("ord").alias("ord_a"), F.col("name").alias("name_a"))
    ents_b = ents.select(F.col("ord").alias("ord_b"), F.col("name").alias("name_b"))
    sents = (
        sents.join(F.broadcast(ents_a), sents.ent_a == ents_a.ord_a, "left").drop("ord_a")
        .join(F.broadcast(ents_b), sents.ent_b == ents_b.ord_b, "left").drop("ord_b")
    )

    # fact-aware template selection: a relation-bearing template is used
    # IFF the KB fact actually holds for the drawn pair (text states facts);
    # otherwise a relation-neutral two-entity template → the DS None class
    eid_a = F.format_string("e%03d", F.col("ent_a"))
    eid_b = F.format_string("e%03d", F.col("ent_b"))
    rel_for_kind = None
    for kind, rel in KIND_REL.items():
        c = F.when(F.col("kind") == kind, F.lit(rel))
        rel_for_kind = c if rel_for_kind is None else rel_for_kind.when(
            F.col("kind") == kind, F.lit(rel))
    sents = sents.withColumn(
        "has_fact",
        F.when(F.col("kind") == 3,
               fact_exists_col(F.lit(REL_SPOUSE), eid_a, eid_b, True))
        .when(F.col("kind") < 4,
              fact_exists_col(rel_for_kind, eid_a, eid_b, False))
        .otherwise(F.lit(False)))

    tpl_idx = pick(skey, "tpl", 3)  # modded per template-family below
    sentence = None
    for kind, tpls in TEMPLATES.items():
        for ti, (pre, mid, post, a_first) in enumerate(tpls):
            first = F.col("name_a") if a_first else F.col("name_b")
            second = F.col("name_b") if a_first else F.col("name_a")
            expr = F.concat(F.lit(pre), first, F.lit(mid), second, F.lit(post))
            cond = (F.col("kind") == kind) & F.col("has_fact") \
                & (F.pmod(tpl_idx, F.lit(len(tpls))) == ti)
            sentence = F.when(cond, expr) if sentence is None \
                else sentence.when(cond, expr)
    for ti, (pre, mid, post, a_first) in enumerate(NEUTRAL):
        expr = F.concat(F.lit(pre), F.col("name_a"), F.lit(mid),
                        F.col("name_b"), F.lit(post))
        cond = (F.col("kind") < 4) & ~F.col("has_fact") \
            & (F.pmod(tpl_idx, F.lit(len(NEUTRAL))) == ti)
        sentence = sentence.when(cond, expr)
    filler = F.element_at(F.array(*[F.lit(x) for x in FILLER]),
                          pick(skey, "filler", len(FILLER)) + 1)
    sentence = sentence.otherwise(filler)
    sents = sents.withColumn("sentence", sentence)

    out = (
        sents.groupBy("conv_id", "turn_idx", "role", "tool", "ts")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("sent_idx", "sentence"))),
                        lambda x: x["sentence"]), " ").alias("text"))
        .select("conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
                "role", "text", "tool", "ts")
    )
    return out


# ------------------------------------------------------------- fixture cache
def fixture_dir(sf_dir: str) -> str:
    """Deterministic on-disk fixture location keyed by the sf tag.

    Resolution order: $SPARK_GRAFT_FIXTURES_DIR, the repo root (module two
    levels up), else the working directory — the module path is not a real
    directory when the package ships as a ``spark-submit --py-files`` zip.
    """
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf0.01"
    env = os.environ.get("SPARK_GRAFT_FIXTURES_DIR")
    if env:
        return os.path.join(env, tag)
    base = os.path.abspath(os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", ".."))
    if not os.path.isdir(base):
        base = os.getcwd()
    return os.path.join(base, ".fixtures", tag)


def n_convs_for(sf_dir: str) -> int:
    tag = os.path.basename(os.path.normpath(sf_dir))
    sf = float(tag.replace("sf", "") or 0.01) if tag.startswith("sf") else 0.01
    return max(50, int(40000 * sf))


def ensure_fixtures(spark: SparkSession, sf_dir: str) -> str:
    """Materialize transcripts + KB dims for an sf tier (idempotent cache).

    Written once; correctness oracles read the same parquet via DuckDB.
    """
    out = os.path.abspath(fixture_dir(sf_dir))
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    transcripts(spark, n_convs_for(sf_dir)).repartition(8, "conv_id").write.mode(
        "overwrite").parquet(os.path.join(out, "transcripts.parquet"))
    kb_aliases(spark).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "kb_aliases.parquet"))
    kb_facts(spark).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "kb_facts.parquet"))
    brown_clusters(spark).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "brown_clusters.parquet"))
    with open(marker, "w") as f:
        f.write("ok\n")
    return out

