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
}


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
                yield name, method, "param", param


CASES = list(_cases())


def _full(name: str, method: str) -> dict:
    cls = _table_commands()[name]
    row = cls.TABLE[method]
    base = BASE[name]
    obj = {**base, "command": name, "outputKey": "o"}
    obj["params"] = {**base["params"], "method": method}
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
    EXTENSION_COMMANDS[name](obj)  # complete: parses
    if kind == "input":
        del obj[missing]
    else:
        del obj["params"][missing]
    with pytest.raises(ValueError, match=f"^{name} {method} requires"):
        EXTENSION_COMMANDS[name](obj)


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
