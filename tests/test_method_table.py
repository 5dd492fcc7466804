"""Method-table commands (plans/extensions.py ``MethodCmd``): every
required param or input a table row names is enforced while the plan is
parsed, and the options a method accepts are its operator's keywords."""

from __future__ import annotations

import json

import pytest

from topnotch_spark.plans.extensions import (
    IndexCmd,
    MethodCmd,
    _snake,
)
from topnotch_spark.plans.parser import EXTENSION_COMMANDS
from tests.test_plan_extensions import SF

X = {"ref": "x", "onDisk": False}

# the smallest params/inputs each command parses with, before a row's
# own requirements are added
BASE = {
    "dedup": {"input": X, "params": {"idColumn": "id"}},
    "text": {"input": X, "params": {"idColumn": "id"}},
    "similarity": {"corpus": X, "params": {}},
    "outliers": {"input": X, "params": {"valueColumn": "v"}},
    "drift": {"reference": X, "current": X, "params": {"column": "c"}},
    "decontaminate": {
        "corpus": X, "benchmark": X, "params": {"idColumn": "id"},
    },
    "lmScore": {"target": X, "reference": X, "params": {"idColumn": "id"}},
    "tokenize": {"input": X, "vocab": X, "params": {"idColumn": "id"}},
    "skewProfile": {"input": X, "params": {"keys": ["k"]}},
    "sequence": {"input": X, "params": {}},
    "corpusStats": {"input": X, "params": {}},
    "cms": {"input": X, "params": {"keyColumn": "k"}},
    "quantileSketch": {"input": X, "params": {"valueColumn": "v"}},
    "bloom": {"input": X, "params": {"keyColumn": "k"}},
    "index": {"input": X, "params": {}},
    "fuse": {"runs": [X, X], "params": {}},
    "asof": {
        "left": X, "right": X,
        "params": {"on": ["k"], "leftTs": "t", "rightTs": "t",
                   "rightCols": ["c"]},
    },
    "pivot": {
        "input": X,
        "params": {"groupColumn": "g", "pivotColumn": "p",
                   "pivotValues": ["a"]},
    },
    "dsir": {"raw": X, "target": X, "params": {"idColumn": "id"}},
    "fdCheck": {"input": X, "params": {"pairs": [["a", "b"]]}},
    "winsorize": {"input": X, "params": {"valueColumn": "v"}},
    "spatialJoin": {"left": X, "right": X, "params": {"radius": 1.0}},
    "basket": {
        "input": X, "params": {"basketColumn": "b", "itemColumn": "i"},
    },
    "scd2": {
        "current": X, "updates": X,
        "params": {"keys": ["k"], "tracked": ["t"], "effectiveColumn": "e"},
    },
    "sketch": {
        "input": X, "params": {"detailColumns": ["d"], "valueColumn": "v"},
    },
    "cdcApply": {
        "snapshot": X, "changes": X,
        "params": {"keys": ["k"], "tsColumn": "ts"},
    },
    "intervalJoin": {
        "facts": X, "ranges": X,
        "params": {"valueColumn": "v", "loColumn": "lo", "hiColumn": "hi",
                   "rangeColumns": ["r"]},
    },
    "compact": {"params": {"source": "s", "dest": "d"}},
    "retrieve": {"input": X, "params": {"queries": [[1, "q"]]}},
    "profile": {"input": X, "params": {}},
    "kAnonymity": {"input": X, "params": {"quasiColumns": ["q"]}},
    "sample": {"input": X, "params": {"idColumn": "id"}},
    "split": {"input": X, "params": {"idColumn": "id"}},
}

# the params that pick the row of a command without a method param
FORMS = {
    ("profile", "columns"): {},
    ("profile", "histogram"): {"histogramColumn": "c"},
    ("profile", "corr"): {"corrColumns": ["a", "b"]},
    ("profile", "mi"): {"miColumns": ["a", "b"]},
    ("kAnonymity", "k"): {},
    ("kAnonymity", "l"): {"sensitiveColumn": "s"},
    ("kAnonymity", "t"): {"sensitiveColumn": "s", "t": 0.2},
    ("sample", "stratified"): {"stratColumn": "s", "rates": {"a": 0.5}},
    ("sample", "weighted"): {"weightColumn": "w"},
    ("sample", "weightedTopn"): {"weightColumn": "w", "n": 3},
    ("sample", "budget"): {"groupColumn": "g", "budgetTokens": 100},
    ("sample", "curriculum"): {"orderColumn": "o", "partitionColumn": "p"},
    ("split", "hash"): {"fractions": {"train": 1.0}},
    ("split", "leakage"): {"textColumn": "t"},
    ("split", "clusterSafe"): {
        "textColumn": "t", "clusterSafe": True, "fractions": {"train": 1.0},
    },
}
PICKED = {name for name, _ in FORMS}


def _table_commands() -> dict[str, type[MethodCmd]]:
    out = {}
    for name, parse in EXTENSION_COMMANDS.items():
        cls = parse.__self__
        if issubclass(cls, MethodCmd):
            out[name] = cls
    return out


def _cases():
    for name, cls in sorted(_table_commands().items()):
        for method, row in cls.TABLE.items():
            for inp in row.inputs:
                yield name, method, "input", inp
            for param in cls._required_params(row):
                # a param that picks the form cannot be missing from it
                if param not in FORMS.get((name, method), {}):
                    yield name, method, "param", param


CASES = list(_cases())


def _full(name: str, method: str) -> dict:
    cls = _table_commands()[name]
    row = cls.TABLE[method]
    base = BASE[name]
    obj = {**base, "command": name, "outputKey": "o"}
    obj["params"] = {**base["params"], **FORMS.get((name, method), {})}
    if len(cls.TABLE) > 1 and name not in PICKED:
        obj["params"]["method"] = method
    obj.update({inp: X for inp in row.inputs})
    obj["params"].update({p: "x" for p in cls._required_params(row)})
    return obj


def test_every_table_command_has_a_base():
    assert sorted(_table_commands()) == sorted(BASE)


@pytest.mark.parametrize(
    "name,method,kind,missing", CASES,
    ids=[f"{n}-{m}-{k}" for n, m, _, k in CASES],
)
def test_missing_requirement_fails_at_parse(name, method, kind, missing):
    obj = _full(name, method)
    # complete: parses, to the row the case names
    assert EXTENSION_COMMANDS[name](obj).method == method
    if kind == "input":
        del obj[missing]
    else:
        del obj["params"][missing]
    # a one-row command's messages name the command alone
    one_row = len(_table_commands()[name].TABLE) == 1
    who = name if one_row else f"{name} {method}"
    with pytest.raises(ValueError, match=f"^{who} requires"):
        EXTENSION_COMMANDS[name](obj)


def test_every_command_is_registered_under_its_name():
    assert sorted(EXTENSION_COMMANDS) == sorted([
        "asof", "basket", "bloom", "cdcApply", "cms", "compact",
        "corpusStats", "decontaminate", "dedup", "drift", "dsir",
        "fdCheck", "fuse", "graph", "index", "integrity", "intervalJoin",
        "kAnonymity", "lmScore", "outliers", "pivot", "profile",
        "quantileSketch", "retrieve", "sample", "scd2", "schemaCheck",
        "sequence", "similarity", "sketch", "skewProfile", "spatialJoin",
        "split", "text", "tokenize", "winsorize",
    ])
    for name, parse in EXTENSION_COMMANDS.items():
        assert parse.__self__.NAME == name


def test_profile_columns_rejects_n_buckets_at_parse():
    obj = _full("profile", "columns")
    obj["params"].update(columns=["c"], nBuckets=10)
    with pytest.raises(
        ValueError,
        match=r"^profile method 'columns' does not accept options "
        r"\['nBuckets'\]",
    ):
        EXTENSION_COMMANDS["profile"](obj)


@pytest.mark.parametrize("param,value", [("l", 3), ("t", 0.2)])
def test_k_anonymity_diversity_params_need_a_sensitive_column(param, value):
    obj = _full("kAnonymity", "k")
    obj["params"][param] = value
    with pytest.raises(ValueError, match="^kAnonymity"):
        EXTENSION_COMMANDS["kAnonymity"](obj)


@pytest.mark.parametrize("method", ["hash", "clusterSafe"])
@pytest.mark.parametrize("fractions", [None, {}])
def test_split_fractions_must_be_non_empty_at_parse(method, fractions):
    obj = _full("split", method)
    obj["params"]["fractions"] = fractions
    if fractions is None:
        del obj["params"]["fractions"]
    with pytest.raises(ValueError, match="fractions must be non-empty"):
        EXTENSION_COMMANDS["split"](obj)
    # the leakage form reports over the plan's fractions or the defaults
    obj = _full("split", "leakage")
    EXTENSION_COMMANDS["split"](obj)


def test_omitted_renamed_params_keep_the_operator_default():
    """valueColumn and opColumn/tiebreakColumn do not snake to the
    operator keyword; omitted, the operator gets its own default."""
    for name, want in (("pivot", [None]), ("cdcApply", ["op", None])):
        cmd = EXTENSION_COMMANDS[name](_full(name, name))
        args = cmd.TABLE[cmd.method].args[-len(want):]
        assert [cmd._arg(a, None, {}, {}) for a in args] == want


def test_every_corpus_only_similarity_method_parses_without_queries():
    sim = _table_commands()["similarity"]
    corpus_only = [m for m, row in sim.TABLE.items() if not row.inputs]
    assert sorted(corpus_only) == sorted([
        "labelAgreement", "silhouette", "quantizeRecall", "pqRecall",
        "kcenter", "ivfpqRecall", "dimStats", "kmeans",
    ])
    for method in corpus_only:
        sim.from_json(_full("similarity", method))


def test_unknown_method_and_stray_option_messages():
    obj = _full("cms", "build")
    obj["params"]["method"] = "nope"
    with pytest.raises(
        ValueError,
        match=r"^cms: unknown method 'nope' "
        r"\(known: build, query, joinSize\)",
    ):
        EXTENSION_COMMANDS["cms"](obj)
    # an option another method's operator takes is an error here
    obj = _full("cms", "build")
    obj["params"]["roundDigits"] = 4
    with pytest.raises(
        ValueError,
        match=r"^cms method 'build' does not accept options "
        r"\['roundDigits'\]",
    ):
        EXTENSION_COMMANDS["cms"](obj)


def test_accepted_options_are_the_operator_keywords():
    from topnotch_spark.plans.extensions import DedupCmd, SimilarityCmd

    assert DedupCmd.TABLE["minhash"].accepted == {
        "num_hashes", "bands", "threshold", "shingle_n",
    }
    # positional id/vec columns are not options; a frame keyword
    # (centroids) comes from an input, never from params
    assert SimilarityCmd.TABLE["silhouette"].accepted == {
        "n_centroids", "round_digits",
    }
    assert DedupCmd.TABLE["incrementalMinhash"].build_accepted == {
        "num_hashes", "bands", "shingle_n",
    }


# keyword-only operator parameters are for Python callers: a plan naming
# one has it rejected (when another method of the command takes that
# option) or ignored, never applied
KEYWORD_ONLY = [
    ("bloom", "build", "prehashed", True),
    ("bloom", "probe", "prehashed", True),
    ("cms", "build", "prehashed", True),
    ("cms", "query", "prehashed", True),
    ("drift", "ks", "autoBins", 64),
    ("drift", "ks", "autoDistinctThreshold", 10),
    ("similarity", "ann", "hammingProbes", 0),
    ("text", "langid", "extraCols", ["x"]),
    ("text", "piiScrub", "patterns", []),
    ("text", "qualityFilter", "rules", []),
    ("corpusStats", "mix", "roundDigits", 3),
    ("corpusStats", "vocabOverlap", "roundDigits", 3),
    ("sequence", "retention", "roundDigits", 3),
    ("sequence", "rolling", "roundDigits", 3),
    ("sequence", "trend", "roundDigits", 3),
    ("sequence", "ewma", "roundDigits", 3),
    ("sequence", "anomaly", "roundDigits", 3),
    ("sequence", "gaps", "roundDigits", 3),
    ("dsir", "dsir", "targetPred", "lang = 'en'"),
    ("profile", "columns", "percentileAccuracy", 100),
    ("profile", "histogram", "percentileAccuracy", 100),
]


@pytest.mark.parametrize(
    "name,method,option,value", KEYWORD_ONLY,
    ids=[f"{n}-{m}-{o}" for n, m, o, _ in KEYWORD_ONLY],
)
def test_keyword_only_parameters_are_not_plan_options(
    name, method, option, value
):
    cls = _table_commands()[name]
    assert _snake(option) not in cls.TABLE[method].accepted
    obj = _full(name, method)
    obj["params"][option] = value
    try:
        cmd = EXTENSION_COMMANDS[name](obj)
    except ValueError as e:
        assert str(e).startswith(
            f"{name} method {method!r} does not accept options "
            f"[{option!r}]"
        )
        return
    assert _snake(option) not in cmd.options


def test_snake_treats_a_run_of_capitals_as_one_word():
    assert _snake("targetFileMB") == "target_file_mb"
    assert _snake("maxLog2K") == "max_log2_k"
    assert _snake("nPlanes") == "n_planes"
    assert _snake("lgK") == "lg_k"


def test_index_build_reads_the_bin_column(spark, tmp_path):
    """Media builds name their blob column "binColumn", as dedup does."""
    from topnotch_spark.catalog import _synthetic_tnimg_docs
    from topnotch_spark.engine import TnEngine
    from topnotch_spark.operators.multimodal import build_phash_index

    docs = _synthetic_tnimg_docs(spark, SF)
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    obj = {"command": "index", "input": {"ref": src, "onDisk": True},
           "params": {"method": "buildPhash", "idColumn": "doc_id",
                      "binColumn": "content"},
           "outputKey": "phashIndex"}
    assert IndexCmd.from_json(obj).value_column == "content"
    plan = tmp_path / "plan.json"
    plan.write_text(json.dumps({"commands": [obj]}))
    engine = TnEngine(spark)
    assert engine.run(str(plan)) == 0
    got = sorted(engine.registry["phashIndex"].collect())
    want = sorted(
        build_phash_index(spark.read.parquet(src), "doc_id", "content")
        .collect()
    )
    assert got == want and got
