"""Extension plan commands: dedup / text / similarity / asof as
first-class command types in the same JSON plan envelope the reference
defines (SURVEY.md §7E — "new command types in the same plan JSON").

A user plan mixes them freely with assertion/diff/view:

    {"commands": [
      {"command": "dedup", "input": {"ref": "/data/docs", "onDisk": true},
       "params": {"method": "minhash", "idColumn": "doc_id",
                  "textColumn": "text", "numHashes": 16, "bands": 4,
                  "threshold": 0.5, "shingleN": 5},
       "outputKey": "nearDups"},
      {"command": "assertion", "input": {"ref": "nearDups", "onDisk": false},
       "params": {"assertions": [{"query": "jaccard < 0.9",
                  "description": "no hard dups", "threshold": 0.01}]},
       "outputKey": "dupCheck"}
    ]}

Each command implements ``execute(engine) -> DataFrame`` (duck-typed
hook in engine.run_command) and registers itself under its ``NAME`` in
``parser.EXTENSION_COMMANDS`` when this module loads.

Every command that forwards to one operator is a :class:`MethodCmd`:
its ``TABLE`` maps each method to one :class:`Method` row, which names

- the operator, as ``"module:function"`` under
  ``topnotch_spark.operators``, imported at first use (importing this
  module imports no operator module);
- the positional arguments it takes from the command's fields or
  params; a param without a default is required;
- the inputs the method requires;
- the options it drops on purpose.

A command with a ``method`` param picks its row from that param. A
single-operator command (scd2, retrieve, ...) has a one-row table, and
profile, kAnonymity, sample and split pick their row from the params
that name the form (``histogramColumn``, ``sensitiveColumn``, ...).

The options a method accepts are its operator's parameters with a
default, read once with ``inspect.signature``; keyword-only parameters
(after ``*``) are for Python callers and are never plan options.
``from_json`` checks a plan against the row (unknown method, missing
params or inputs, options the operator does not take) and the one
``MethodCmd.execute`` makes the call, so the two cannot drift apart:
adding a method means adding one row. Three commands keep their own
``execute``: graph (edge building and weight aliasing), integrity
(relation tuples) and schemaCheck (no operator).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

from topnotch_spark.plans.model import Command
from topnotch_spark.sources.inputs import Input, load_input


def _snake(name: str) -> str:
    """camelCase JSON name -> snake_case kwarg name; a run of capitals is
    one word (``targetFileMB`` -> ``target_file_mb``)."""
    return re.sub(
        r"(?<=[a-z0-9])(?=[A-Z])|(?<=[A-Z])(?=[A-Z][a-z])", "_", name
    ).lower()


def _opt(params: dict, *names: str) -> dict[str, Any]:
    """Pick camelCase JSON options into snake_case kwargs, skipping absents."""
    return {_snake(name): params[name] for name in names if name in params}


def _method_of(
    params: dict, known, cmd: str, default: str | None = None
) -> str:
    """Plan-parse-time method validation: a params dict missing 'method'
    (with no default) or naming an unknown one raises a uniform
    ValueError instead of a bare KeyError from deep inside execute()."""
    method = params.get("method", default)
    if method is None:
        raise ValueError(f"{cmd}: params.method is required")
    if method not in known:
        raise ValueError(
            f"{cmd}: unknown method {method!r} (known: {', '.join(known)})"
        )
    return method


def _operator(ref: str):
    """``"module:function"`` under topnotch_spark.operators; a module
    with a leading dot is under topnotch_spark (``.sources.maintenance``)."""
    module, name = ref.split(":")
    return getattr(
        importlib.import_module(f".{module}", "topnotch_spark.operators"),
        name,
    )


def _keywords(fn, n_args: int) -> frozenset[str]:
    """The options ``fn`` takes after its first ``n_args`` positional
    arguments: the parameters with a default, frames excepted (a frame
    comes from an input, never from params) and keyword-only ones
    excepted (those are for Python callers, not plans)."""
    params = list(inspect.signature(fn).parameters.values())[n_args:]
    return frozenset(
        p.name
        for p in params
        if p.default is not p.empty
        and p.kind is not p.KEYWORD_ONLY
        and "DataFrame" not in str(p.annotation)
    )


@dataclass(frozen=True)
class Method:
    """One row of a method table (see the module docstring).

    Each ``args`` entry is ``"spark"`` (the session), ``None``, a field
    of the command (an Input is loaded, a tuple becomes a list), a
    ``_name`` the command's ``_arg`` derives, or a camelCase param taken
    from the options (or from the field of that name), where
    ``"name=default"`` gives it a default (``"name="`` defaults it to
    None). ``centroids`` names an optional input passed as the
    operator's ``centroids`` keyword, which must be a trained
    (centroid_id, centroid) frame; ``then`` is an operator applied to
    the result."""

    op: str
    args: tuple = ()
    inputs: tuple[str, ...] = ()
    drops: tuple[str, ...] = ()
    centroids: str | None = None
    then: str | None = None

    @functools.cached_property
    def fn(self):
        return _operator(self.op)

    @functools.cached_property
    def accepted(self) -> frozenset[str]:
        return _keywords(self.fn, len(self.args))


@dataclass(frozen=True)
class Screen(Method):
    """An incremental dedup screen of a batch against the "index" input.
    The index is prebuilt when it carries the ``prebuilt`` columns;
    otherwise it is a raw snapshot that ``build`` indexes first, called
    with ``build_args`` and the options ``build`` takes."""

    prebuilt: frozenset[str] = frozenset()
    build: str = ""
    build_args: tuple = ("index", "id_column", "value_column")

    @functools.cached_property
    def build_fn(self):
        return _operator(self.build)

    @functools.cached_property
    def build_accepted(self) -> frozenset[str]:
        return _keywords(self.build_fn, len(self.build_args))


@functools.cache
def _vocabulary(cls) -> frozenset[str]:
    """Every option some method of ``cls`` takes: a param in this set
    that the plan's method does not take is an error, not ignored."""
    return frozenset().union(*(row.accepted for row in cls.TABLE.values()))


def _value_column(params: dict) -> str:
    """The value column of the dedup and index families: text, vectors
    or media blobs."""
    return params.get(
        "textColumn",
        params.get("vecColumn", params.get("binColumn", "text")),
    )


class MethodCmd(Command):
    """A command that runs one row of ``TABLE``: the one its ``method``
    field names, else ``DEFAULT``."""

    NAME = ""  # the JSON command name
    TABLE: dict[str, Method] = {}
    DEFAULT: str | None = None  # the method when params name none

    @property
    def method(self) -> str:
        return self.DEFAULT

    @classmethod
    def _params(cls, row: Method) -> dict[str, bool]:
        """The row's arguments that are plan params: name -> whether it
        has a default."""
        own = cls.__dataclass_fields__
        return {
            name: bool(eq)
            for name, eq, _ in (
                arg.partition("=")
                for arg in row.args
                if arg is not None and arg != "spark"
                and arg not in own and arg[0] != "_"
            )
        }

    @classmethod
    def _required_params(cls, row: Method) -> list[str]:
        return [n for n, default in cls._params(row).items() if not default]

    @classmethod
    def _parse(cls, obj: dict, method: str | None = None) -> tuple[str, dict]:
        """Check ``obj`` against its method's row at parse time: the
        ``method`` given, else the one its params name. Returns the
        method and its options: the params it takes, by kwarg name."""
        p = obj.get("params", {})
        if method is None:
            method = _method_of(p, tuple(cls.TABLE), cls.NAME, cls.DEFAULT)
        row = cls.TABLE[method]
        who = cls.NAME if len(cls.TABLE) == 1 else f"{cls.NAME} {method}"
        for name in row.inputs:
            if name not in obj:
                article = "an" if name[0] in "aeiou" else "a"
                raise ValueError(f"{who} requires {article} {name!r} input")
        for name in cls._required_params(row):
            if name not in p:
                raise ValueError(f"{who} requires param {name!r}")
        # a param naming a field (indexPath, keyColumn) stays out of options
        params = {_snake(name) for name in cls._params(row)}
        takes = row.accepted | set(row.drops) | (
            params - set(cls.__dataclass_fields__)
        )
        stray = [
            k for k in p
            if _snake(k) in _vocabulary(cls) and _snake(k) not in takes
        ]
        if stray:
            raise ValueError(
                f"{cls.NAME} method {method!r} does not accept options "
                f"{stray}"
            )
        opts = {_snake(k): v for k, v in p.items() if k != "method"}
        return method, {k: v for k, v in opts.items() if k in takes}

    def _options(self) -> dict:
        return dict(self.options)

    def _arg(self, name, engine, opts: dict, frames: dict):
        """One positional argument of the row (see :class:`Method`);
        ``frames`` holds the inputs loaded so far, so each loads once."""
        if name is None:
            return None
        if name == "spark":
            return engine.spark
        if name in frames:
            return frames[name]
        name, _, default = name.partition("=")
        own = self.__dataclass_fields__
        if name not in own:
            key = _snake(name)
            if key in opts:
                return opts.pop(key)
            return getattr(self, key) if key in own else default or None
        value = getattr(self, name)
        if isinstance(value, Input):
            value = frames[name] = load_input(
                engine.spark, value, engine.registry
            )
        elif isinstance(value, tuple):
            value = [
                load_input(engine.spark, v, engine.registry)
                if isinstance(v, Input)
                else v
                for v in value
            ]
        return value

    def execute(self, engine) -> DataFrame:
        row = self.TABLE[self.method]
        opts = self._options()
        frames: dict[str, DataFrame] = {}

        def arg(name):
            return self._arg(name, engine, opts, frames)

        if isinstance(row, Screen):
            index = arg("index")
            if not row.prebuilt <= set(index.columns):
                frames["index"] = row.build_fn(
                    *map(arg, row.build_args),
                    **{
                        k: v for k, v in opts.items()
                        if k in row.build_accepted
                    },
                )
        args = [arg(a) for a in row.args]
        kwargs = {
            k: v
            for k, v in opts.items()
            if k in row.accepted and k not in row.drops
        }
        if row.centroids and getattr(self, row.centroids) is not None:
            cents = arg(row.centroids)
            if not {"centroid_id", "centroid"} <= set(cents.columns):
                raise ValueError(
                    f"{self.NAME} {self.method}: the {row.centroids!r} "
                    "input must carry centroid_id/centroid columns (a "
                    "trained centroids frame, e.g. similarity method "
                    "'kmeans' output)"
                )
            kwargs["centroids"] = cents
        out = row.fn(*args, **kwargs)
        if row.then is not None:
            out = _operator(row.then)(out)
        # an operator returning (frame, extras) contributes its frame
        return out[0] if isinstance(out, tuple) else out


class _KeyedCmd(MethodCmd):
    """cms and bloom hash their key columns as strings, NULL as ''."""

    def _arg(self, name, engine, opts, frames):
        value = super()._arg(name, engine, opts, frames)
        if name not in ("keyColumn", "rightKeyColumn"):
            return value
        from pyspark.sql import functions as F

        return F.coalesce(F.col(value).cast("string"), F.lit(""))


class _AllParamsCmd(MethodCmd):
    """sequence and corpusStats keep every param in ``params`` (their
    plan echo) and take the method's options from there."""

    @classmethod
    def from_json(cls, obj: dict) -> "_AllParamsCmd":
        method, _ = cls._parse(obj)
        p = dict(obj["params"])
        p.pop("method")
        return cls(
            input=Input.from_json(obj["input"]),
            method=method,
            params=tuple(sorted(p.items())),
            **cls._common(obj),
        )

    def _options(self) -> dict:
        return {_snake(k): v for k, v in self.params}


_IN = ("input",)
_ID_VALUE = ("input", "id_column", "value_column")
_SCREEN = ("input", "index", "id_column", "value_column")
_MEDIA_INDEX = frozenset({"index_id", "band_idx", "bucket", "sh"})


@dataclass(frozen=True)
class DedupCmd(MethodCmd):
    """{"command": "dedup", "params": {"method": exact|fingerprint|minhash|
    jaccard|containment|simhash|embedding|clusters|lines|spans|fuzzy|
    phash|audio|video, "idColumn",
    "textColumn"|"vecColumn"|"binColumn",
    + method options (numHashes/bands/threshold/shingleN/bits/bandBits/
    maxHamming/nPlanes/dim/maxShingleDf/roundDigits/sep/maxLineDf/
    minChars/spanTokens/minOccurrences/hashType/grid)}}.

    ``clusters`` runs the minhash pair stage then connected components
    (operators/cluster.py) — per-doc (cluster_id, cluster_size, keep).
    ``lines`` is cross-document line dedup (C4-style boilerplate
    removal, curation.dedup_lines): rewrites the text column instead of
    reporting pairs. ``sourceMatrix`` rolls the minhash pair set up to a
    symmetric source×source near-dup matrix ("sourceColumn" required). ``spans`` reports duplicated token windows
    (dedup.duplicate_spans, Lee et al. span-granular dedup). ``phash``
    is perceptual near-dup over image BLOBS (multimodal.phash_near_dups:
    aHash/dHash via hashType, banded like simhash); ``audio`` is
    energy-envelope near-dup over audio blobs
    (multimodal.audio_near_dups, nFrames frames); ``video`` is
    keyframe-signature near-dup over video blobs
    (multimodal.video_near_dups, everyN/minMatchFrac) — binColumn
    names the binary column for all three. ``minhashRecall`` /
    ``phashRecall`` emit the one-row banding-recall report (found vs
    exact pairs) for the text and image pipelines respectively —
    the config-audit rows to gate a full-corpus dedup on.
    ``incremental`` / ``incrementalMinhash`` / ``incrementalSemantic``
    screen a new batch against an "index" input (raw snapshot or the
    prebuilt artifact): exact content-hash membership, near-dup
    signature-estimated Jaccard, or trained-cluster cosine (the
    SemDeDup screen — additionally requires a "centroids" input) — the
    persisted-index ingestion trio (see dedup.upsert_dedup_index /
    build_minhash_index / build_semantic_index).
    ``incrementalPhash`` / ``incrementalAudio`` / ``incrementalVideo``
    (r13) extend the family to MEDIA: screen a blob batch against an
    "index" input (prebuilt signature index or raw snapshot blobs) via
    the multimodal dedup_batch_against_{phash,audio,video}_index
    screens — old blobs are never re-decoded. ``spansRewrite``
    emits the deduplicated corpus for ``spans``' findings (cut /
    keep-first, Lee 2022)."""

    input: Input = None  # type: ignore[assignment]
    index: Input | None = None
    centroids: Input | None = None
    method: str = "exact"
    id_column: str = "id"
    value_column: str = "text"
    options: dict = field(default_factory=dict)

    NAME = "dedup"
    TABLE = {
        "exact": Method("dedup:exact_dedup", _ID_VALUE),
        "fingerprint": Method("dedup:fingerprint_dedup", _ID_VALUE),
        "minhash": Method("dedup:minhash_lsh_dedup", _ID_VALUE),
        "jaccard": Method("dedup:ngram_jaccard_pairs", _ID_VALUE),
        "containment": Method("dedup:containment_pairs", _ID_VALUE),
        "simhash": Method("dedup:simhash_dedup", _ID_VALUE),
        "embedding": Method("dedup:embedding_near_dups", _ID_VALUE),
        # trained-clustering SemDeDup: the optional "index" input is a
        # (centroid_id, centroid) frame, e.g. a similarity "kmeans" output
        "semantic": Method(
            "dedup:semantic_dedup", _ID_VALUE, centroids="index"
        ),
        "clusters": Method(
            "dedup:minhash_lsh_dedup", _ID_VALUE, then="cluster:dup_clusters"
        ),
        "lines": Method("curation:dedup_lines", _ID_VALUE),
        "spans": Method("dedup:duplicate_spans", _ID_VALUE),
        "spansRewrite": Method("dedup:rewrite_duplicate_spans", _ID_VALUE),
        "fuzzy": Method("fuzzy:fuzzy_match_pairs", _ID_VALUE),
        "phash": Method("multimodal:phash_near_dups", _ID_VALUE),
        "audio": Method("multimodal:audio_near_dups", _ID_VALUE),
        "video": Method("multimodal:video_near_dups", _ID_VALUE),
        "sourceMatrix": Method(
            "dedup:cross_source_dup_matrix", (*_ID_VALUE, "sourceColumn")
        ),
        "minhashRecall": Method("dedup:minhash_recall", _ID_VALUE),
        "phashRecall": Method("multimodal:phash_recall", _ID_VALUE),
        "incremental": Screen(
            "dedup:dedup_against_index", _SCREEN, ("index",),
            prebuilt=frozenset({"dup_key", "index_id"}),
            build="dedup:build_dedup_index",
        ),
        "incrementalMinhash": Screen(
            "dedup:dedup_batch_against_minhash_index", _SCREEN, ("index",),
            prebuilt=frozenset({"index_id", "band_idx", "bucket", "sigs"}),
            build="dedup:build_minhash_index",
        ),
        "incrementalSemantic": Screen(
            "dedup:dedup_batch_against_semantic_index",
            ("input", "index", "centroids", "id_column", "value_column"),
            ("index", "centroids"),
            prebuilt=frozenset({"index_id", "vec", "nrm", "centroid_id"}),
            build="dedup:build_semantic_index",
            build_args=("index", None, "id_column", "value_column",
                        "centroids"),
        ),
        "incrementalPhash": Screen(
            "multimodal:dedup_batch_against_phash_index", _SCREEN,
            ("index",), prebuilt=_MEDIA_INDEX,
            build="multimodal:build_phash_index",
        ),
        "incrementalAudio": Screen(
            "multimodal:dedup_batch_against_audio_index", _SCREEN,
            ("index",), prebuilt=_MEDIA_INDEX,
            build="multimodal:build_audio_index",
        ),
        "incrementalVideo": Screen(
            "multimodal:dedup_batch_against_video_index", _SCREEN,
            ("index",),
            prebuilt=frozenset({"index_id", "frame_idx", "sh", "n_hashed"}),
            build="multimodal:build_video_index",
        ),
    }

    @classmethod
    def from_json(cls, obj: dict) -> "DedupCmd":
        p = obj["params"]
        method, options = cls._parse(obj)
        return cls(
            input=Input.from_json(obj["input"]),
            index=(
                Input.from_json(obj["index"]) if "index" in obj else None
            ),
            centroids=(
                Input.from_json(obj["centroids"])
                if "centroids" in obj
                else None
            ),
            method=method,
            id_column=p["idColumn"],
            value_column=_value_column(p),
            options=options,
            **cls._common(obj),
        )


_ID_TEXT = ("input", "id_column", "text_column")
_PER_GROUP = (*_ID_TEXT, "partitionCol")


@dataclass(frozen=True)
class TextCmd(MethodCmd):
    """{"command": "text", "params": {"method": tokenStats|quality|langid|
    fingerprints|chunk|piiScrub|qualityFilter|vocabTopK|packShards|
    repetition|tfidfKeywords|normalize|tokenEntropy|readability|
    calibrateRanks|oovRate, "idColumn", "textColumn",
    ["stopwords"/"size"/"overlap"/"k"/"budget"/"partitionCol"/
    "shingleN"]}}; calibrateRanks takes {"idColumn", "orderCol",
    "partitionCol", ["roundDigits"]} — per-source percent_rank quality
    calibration; oovRate takes {"idColumn", "textColumn",
    "partitionCol", ["vocabK", "roundDigits"]} — per-group OOV rate
    against the corpus top-k vocabulary; bpeMerges {["k"]} — round-1
    BPE pair counts; bpeMergeSequence {["nMerges"]} — the full
    count→merge→recount trainer loop emitting the realized merge
    sequence; bpeFertility {"partitionCol", ["nMerges", "roundDigits"]}
    — train on the whole corpus, report per-group subwords-per-token
    fit; collocations {["minCount", "k", "roundDigits"]} — top-k PMI
    adjacent word pairs; classifierScore {"weights", ["biasMilli"]} — integer
    milli-weight linear classifier logits; unigramLm {["maxWordLen",
    "maxPieceLen", "seedSize", "vocabSize", "nRounds"]} — the Kudo 2018
    unigram-LM tokenizer trainer (final ranked piece vocab);
    unigramFertility {"partitionCol", [same trainer options,
    "roundDigits"]} — per-group fertility under the trained unigram
    vocab (the BPE-vs-unigram selection audit next to bpeFertility);
    wordpieceVocab {["maxPieceLen", "vocabSize", "maxWordLen"]} — the
    frequency-seeded WordPiece-style piece vocabulary (every char +
    top-N substrings; feed to tokenize method "wordpiece");
    wordpieceFertility {"partitionCol", ["maxPieceLen", "vocabSize",
    "maxWordLen", "roundDigits"]} — per-group fertility under the
    trained WordPiece vocab (the third column of the
    tokenizer-selection audit next to bpeFertility/unigramFertility);
    langidAccuracy {"trueCol", ["roundDigits"]} — per-language
    precision/recall/f1 of the marker langid vs a trusted label;
    c4 {["minSentences", "minLineWords"]} — the published C4 cleaning
    rules (Raffel 2020) as per-doc diagnostics + keep;
    vocabCoverage {["maxLog2K", "roundDigits"]} — corpus-token coverage
    of the top-k vocabulary at powers-of-two checkpoints;
    zipf {["vocabK", "scale", "roundDigits"]} — Zipf rank-frequency
    least-squares fit over the top-k vocabulary (slope/alpha/r²,
    exact integer regression sums); heaps {["nCheckpoints", "scale",
    "roundDigits"]} — Heaps'-law vocabulary-growth fit over id-grid
    corpus prefixes (beta/K/r²);
    nbWeights {"labelColumn", ["scale"]} — train multinomial Naive
    Bayes token milli-nat log-odds from a boolean label (the
    counts-based trainer whose output feeds classifierScore-style
    gates); nbClassifier {"labelColumn", ["scale"]} — train AND
    self-score: per-doc score_milli / prediction / correct, the
    training-set-accuracy audit."""

    input: Input = None  # type: ignore[assignment]
    method: str = "tokenStats"
    id_column: str = "id"
    text_column: str = "text"
    options: dict = field(default_factory=dict)

    NAME = "text"
    TABLE = {
        "tokenStats": Method("textqc:token_stats", _ID_TEXT),
        "quality": Method("textqc:quality_scores", _ID_TEXT),
        "langid": Method("textqc:language_id", _ID_TEXT),
        "fingerprints": Method("textqc:fingerprints", _ID_TEXT),
        "chunk": Method("chunking:chunk_documents", _ID_TEXT),
        "piiScrub": Method("curation:pii_scrub", _ID_TEXT),
        "qualityFilter": Method("curation:quality_filter", _ID_TEXT),
        "vocabTopK": Method("textqc:vocab_topk", _ID_TEXT),
        "packShards": Method("curation:pack_token_shards", _ID_TEXT),
        "repetition": Method("textqc:repetition_stats", _ID_TEXT),
        "tfidfKeywords": Method("textqc:tfidf_keywords", _ID_TEXT),
        "normalize": Method("curation:normalize_text", _ID_TEXT),
        "unigramLogprob": Method("textqc:unigram_logprob", _ID_TEXT),
        "bigramLogprob": Method("textqc:bigram_logprob", _ID_TEXT),
        "gopher": Method("textqc:gopher_rules", _ID_TEXT),
        "tokenEntropy": Method("textqc:token_entropy", _ID_TEXT),
        "readability": Method("textqc:readability", _ID_TEXT),
        "calibrateRanks": Method(
            "textqc:quality_rank_calibrate",
            ("input", "id_column", "orderCol", "partitionCol"),
        ),
        "oovRate": Method("textqc:vocab_oov_rate", _PER_GROUP),
        "novelty": Method("textqc:ngram_novelty", _ID_TEXT),
        "bpeMerges": Method("textqc:bpe_top_merges", _ID_TEXT),
        "bpeMergeSequence": Method("textqc:bpe_merge_sequence", _ID_TEXT),
        "bpeFertility": Method("textqc:bpe_fertility_by_group", _PER_GROUP),
        "classifierScore": Method(
            "textqc:linear_classifier_score", (*_ID_TEXT, "weights")
        ),
        "collocations": Method("textqc:collocations", _ID_TEXT),
        "unigramLm": Method("textqc:unigram_lm_vocab", _ID_TEXT),
        "unigramFertility": Method(
            "textqc:unigram_fertility_by_group", _PER_GROUP
        ),
        "langidAccuracy": Method(
            "textqc:langid_accuracy", (*_ID_TEXT, "trueCol")
        ),
        "nbWeights": Method(
            "textqc:nb_token_weights", ("input", "text_column", "labelColumn")
        ),
        "nbClassifier": Method(
            "textqc:nb_train_score", (*_ID_TEXT, "labelColumn")
        ),
        "zipf": Method("textqc:zipf_fit", ("input", "text_column")),
        "heaps": Method("textqc:heaps_fit", _ID_TEXT),
        "c4": Method("textqc:c4_rules", _ID_TEXT),
        "vocabCoverage": Method(
            "textqc:vocab_coverage", ("input", "text_column")
        ),
        "wordpieceVocab": Method("textqc:wordpiece_vocab", _ID_TEXT),
        "wordpieceFertility": Method(
            "textqc:wordpiece_fertility_by_group", _PER_GROUP
        ),
    }

    @classmethod
    def from_json(cls, obj: dict) -> "TextCmd":
        p = obj["params"]
        method, options = cls._parse(obj)
        return cls(
            input=Input.from_json(obj["input"]),
            method=method,
            id_column=p["idColumn"],
            text_column=p.get("textColumn", "text"),
            options=options,
            **cls._common(obj),
        )


_CORPUS = ("corpus", "id_column", "vec_column")
_SEARCH = ("corpus", "queries", "id_column", "vec_column")


@dataclass(frozen=True)
class SimilarityCmd(MethodCmd):
    """{"command": "similarity", "params": {"method": bruteForce|ann|
    labelAgreement|contrastive, "idColumn", "vecColumn", "k",
    ["nPlanes", "dim", "roundDigits"]}, "corpus": <input>,
    "queries": <input>}.
    labelAgreement is self-join shaped (every corpus row is a query) —
    it takes "corpus" only plus {"labelColumn", ["minAgree"]} and emits
    the per-vector kNN label-agreement / suspect screen.
    contrastive mines top-k same-label positives + hardest different-
    label negatives per anchor in "queries" ({"labelColumn"} option).
    silhouette is corpus-only too ({["nCentroids", "roundDigits"]}) —
    per-cluster simplified silhouette over the seeded IVF index; pass
    an optional "centroids" input (a centroid_id/centroid frame, e.g.
    a method-"kmeans" output from the registry) to grade a TRAINED
    clustering instead.
    kmeans is corpus-only ({["nCentroids", "nRounds"]}) — engine-exact
    spherical k-means; emits the trained (centroid_id, centroid,
    n_members) frame for semantic dedup / silhouette / IVF consumers.
    quantizeRecall is corpus-only ({["k", "nQueries", "dim",
    "roundDigits"]}) — recall@k of exact search over int8
    quantize-dequantized vectors vs the raw doubles.
    mmr reranks each query's exact top-nCandidates by Maximal Marginal
    Relevance ({["k", "nCandidates", "lambdaMilli", "dim",
    "roundDigits"]}) — greedy relevance-vs-redundancy selection in
    exact integer micro-units.
    pqRecall is corpus-only ({["dim", "m", "nCodes", "k", "nQueries",
    "roundDigits"]}) — recall@k of product-quantized ADC search vs the
    raw doubles (seeded per-subspace codebooks).
    kcenter is corpus-only ({["k", "dim"]}) — greedy farthest-point
    coreset selection: k maximally-spread exemplars with the
    coverage-radius curve.
    ivfpqRecall is corpus-only ({["dim", "m", "nCodes", "nCentroids",
    "nProbe", "k", "nQueries", "roundDigits"]}) — the composed
    FAISS-style IVF-PQ query path graded against exact top-k.
    dimStats is corpus-only ({["roundDigits"]}) — per-dimension
    mean/std/zero-fraction health profile of the vector space."""

    corpus: Input = None  # type: ignore[assignment]
    queries: Input = None  # type: ignore[assignment]
    centroids: Input | None = None
    method: str = "bruteForce"
    id_column: str = "vec_id"
    vec_column: str = "embedding"
    options: dict = field(default_factory=dict)

    NAME = "similarity"
    TABLE = {
        "bruteForce": Method(
            "similarity:brute_force_topk", _SEARCH, ("queries",)
        ),
        "ann": Method("similarity:srp_ann_topk", _SEARCH, ("queries",)),
        "labelAgreement": Method(
            "similarity:label_knn_agreement", (*_CORPUS, "labelColumn=label")
        ),
        # the exact scorer needs no plane literals: "dim" is dropped
        "contrastive": Method(
            "similarity:contrastive_pairs", (*_SEARCH, "labelColumn=label"),
            ("queries",), drops=("dim",),
        ),
        "silhouette": Method(
            "similarity:cluster_silhouette", _CORPUS, drops=("dim",),
            centroids="centroids",
        ),
        "quantizeRecall": Method("similarity:quantize_recall", _CORPUS),
        "mmr": Method("similarity:mmr_rerank", _SEARCH, ("queries",)),
        "pqRecall": Method("similarity:pq_recall", _CORPUS),
        "kcenter": Method("similarity:kcenter_select", _CORPUS),
        "ivfpqRecall": Method("similarity:ivfpq_recall", _CORPUS),
        "dimStats": Method(
            "similarity:embedding_dim_stats", ("corpus", "vec_column")
        ),
        "kmeans": Method("similarity:kmeans_centroids_exact", _CORPUS),
    }

    @classmethod
    def from_json(cls, obj: dict) -> "SimilarityCmd":
        p = obj["params"]
        method, options = cls._parse(obj)
        if "centroids" in obj and method != "silhouette":
            raise ValueError(
                "similarity: a 'centroids' input is only valid for "
                "method 'silhouette' (trained-clustering grading)"
            )
        return cls(
            corpus=Input.from_json(obj["corpus"]),
            queries=(
                Input.from_json(obj["queries"]) if "queries" in obj else None
            ),
            centroids=(
                Input.from_json(obj["centroids"])
                if "centroids" in obj
                else None
            ),
            method=method,
            id_column=p.get("idColumn", "vec_id"),
            vec_column=p.get("vecColumn", "embedding"),
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class FuseCmd(MethodCmd):
    """{"command": "fuse", "runs": [<input>, <input>, ...], "params":
    {["queryColumn", "docColumn", "rankColumn", "k", "topk",
    "roundDigits"]}} — Reciprocal Rank Fusion of 2+ retrieval runs
    (retrieval.rrf_fuse): each run input carries
    (queryColumn, docColumn, rankColumn) rows, e.g. the outputs of
    ``retrieve`` and ``similarity`` commands read back from the
    registry; emits the fused (query_id, doc_id, rrf_score, n_runs,
    rank) top-k."""

    runs: tuple[Input, ...] = ()
    query_column: str = "query_id"
    doc_column: str = "doc_id"
    rank_column: str = "rank"
    options: dict = field(default_factory=dict)

    NAME = DEFAULT = "fuse"
    TABLE = {
        DEFAULT: Method(
            "retrieval:rrf_fuse",
            ("runs", "query_column", "doc_column", "rank_column"),
        )
    }

    @classmethod
    def from_json(cls, obj: dict) -> "FuseCmd":
        p = obj.get("params", {})
        runs = tuple(Input.from_json(r) for r in obj.get("runs", ()))
        if len(runs) < 2:
            raise ValueError("fuse: at least 2 run inputs are required")
        _, options = cls._parse(obj, cls.DEFAULT)
        return cls(
            runs=runs,
            query_column=p.get("queryColumn", "query_id"),
            doc_column=p.get("docColumn", "doc_id"),
            rank_column=p.get("rankColumn", "rank"),
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class AsofCmd(MethodCmd):
    """{"command": "asof", "left": <input>, "right": <input>,
    "params": {"on": [...], "leftTs", "rightTs", "rightCols",
    ["suffix", "toleranceSeconds", "direction": backward|forward|nearest]}}"""

    left: Input = None  # type: ignore[assignment]
    right: Input = None  # type: ignore[assignment]
    on: tuple[str, ...] = ()
    left_ts: str = "ts"
    right_ts: str = "ts"
    right_cols: tuple[str, ...] = ()
    options: dict = field(default_factory=dict)

    NAME = DEFAULT = "asof"
    TABLE = {
        DEFAULT: Method(
            "temporal:asof_join",
            ("left", "right", "on", "left_ts", "right_ts", "right_cols"),
            ("left", "right"),
        )
    }

    @classmethod
    def from_json(cls, obj: dict) -> "AsofCmd":
        p = obj["params"]
        _, options = cls._parse(obj, cls.DEFAULT)
        return cls(
            left=Input.from_json(obj["left"]),
            right=Input.from_json(obj["right"]),
            on=tuple(p["on"]),
            left_ts=p["leftTs"],
            right_ts=p["rightTs"],
            right_cols=tuple(p["rightCols"]),
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class ProfileCmd(MethodCmd):
    """{"command": "profile", "params": {["columns"], ["exact"],
    ["roundDigits"]}} — single-pass column statistics; or
    {"params": {"histogramColumn", ["nBuckets", "exact", "roundDigits"]}}
    — equi-depth histogram of one column; or
    {"params": {"corrColumns": [...], ["decimals", "roundDigits"]}} —
    pairwise exact-sum Pearson correlations in one scan; or
    {"params": {"miColumns": [a, b], ["roundDigits"]}} — mutual
    information / NMI between two categorical columns."""

    input: Input = None  # type: ignore[assignment]
    columns: tuple[str, ...] | None = None
    histogram_column: str | None = None
    corr_columns: tuple[str, ...] | None = None
    mi_columns: tuple[str, str] | None = None
    method: str = "columns"
    options: dict = field(default_factory=dict)

    NAME = "profile"
    TABLE = {
        "columns": Method(
            "profile:profile_columns", ("input", "columns"), _IN
        ),
        "histogram": Method(
            "profile:equidepth_histogram", ("input", "histogram_column"), _IN
        ),
        "corr": Method("profile:corr_matrix", ("input", "corr_columns"), _IN),
        "mi": Method(
            "drift:mutual_information", ("input", "_col_a", "_col_b"), _IN
        ),
    }

    @classmethod
    def from_json(cls, obj: dict) -> "ProfileCmd":
        p = obj.get("params", {})
        corr = tuple(p["corrColumns"]) if "corrColumns" in p else None
        mi = tuple(p["miColumns"]) if "miColumns" in p else None
        if mi is not None and len(mi) != 2:
            raise ValueError(
                f"profile: miColumns takes exactly two columns, got {list(mi)}"
            )
        if mi is not None and "decimals" in p:
            raise ValueError(
                "profile: 'decimals' is not valid with miColumns "
                "(use roundDigits)"
            )
        method = (
            "mi" if mi is not None
            else "corr" if corr is not None
            else "histogram" if "histogramColumn" in p
            else "columns"
        )
        _, options = cls._parse(obj, method)
        return cls(
            input=Input.from_json(obj["input"]),
            columns=tuple(p["columns"]) if "columns" in p else None,
            histogram_column=p.get("histogramColumn"),
            corr_columns=corr,
            mi_columns=mi,  # type: ignore[arg-type]
            method=method,
            options=options,
            **cls._common(obj),
        )

    def _arg(self, name, engine, opts, frames):
        # mutual_information takes the two columns as two arguments
        if name in ("_col_a", "_col_b"):
            return self.mi_columns[name == "_col_b"]
        return super()._arg(name, engine, opts, frames)


_OUTLIER_ARGS = ("input", "value_column", "group_columns")


@dataclass(frozen=True)
class OutliersCmd(MethodCmd):
    """{"command": "outliers", "input": <input>, "params": {"method":
    zscore|mad, "valueColumn", ["groupColumns", "k", "roundDigits"]}} —
    mean/stddev z-score flags or robust median/MAD flags (the screen
    that survives heavy-tailed columns)."""

    DEFAULT = "zscore"

    input: Input = None  # type: ignore[assignment]
    method: str = DEFAULT
    value_column: str = "value"
    group_columns: tuple[str, ...] | None = None
    options: dict = field(default_factory=dict)

    NAME = "outliers"
    TABLE = {
        "zscore": Method("profile:zscore_outliers", _OUTLIER_ARGS),
        "mad": Method("profile:mad_outliers", _OUTLIER_ARGS),
    }

    @classmethod
    def from_json(cls, obj: dict) -> "OutliersCmd":
        p = obj["params"]
        method, options = cls._parse(obj)
        return cls(
            input=Input.from_json(obj["input"]),
            method=method,
            value_column=p["valueColumn"],
            group_columns=(
                tuple(p["groupColumns"]) if "groupColumns" in p else None
            ),
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class PivotCmd(MethodCmd):
    """{"command": "pivot", "input": <input>, "params": {"groupColumn",
    "pivotColumn", "pivotValues": [...], ["valueColumn", "roundDigits"]}}
    — native cross-tab; the explicit value domain keeps it a single
    aggregation job with a stable schema."""

    input: Input = None  # type: ignore[assignment]
    group_column: str = ""
    pivot_column: str = ""
    pivot_values: tuple[str, ...] = ()
    options: dict = field(default_factory=dict)

    NAME = DEFAULT = "pivot"
    TABLE = {
        DEFAULT: Method(
            "profile:pivot_counts",
            ("input", "group_column", "pivot_column", "pivot_values",
             "valueColumn="),
            _IN,
        )
    }

    @classmethod
    def from_json(cls, obj: dict) -> "PivotCmd":
        p = obj["params"]
        _, options = cls._parse(obj, cls.DEFAULT)
        return cls(
            input=Input.from_json(obj["input"]),
            group_column=p["groupColumn"],
            pivot_column=p["pivotColumn"],
            pivot_values=tuple(p["pivotValues"]),
            options=options,
            **cls._common(obj),
        )


_TWO_SLICES = ("reference", "current", "column")


@dataclass(frozen=True)
class DriftCmd(MethodCmd):
    """{"command": "drift", "reference": <input>, "current": <input>,
    "params": {"column", ["method":
    psi|ks|wasserstein|chi2|tokens|tokenRankShift],
    ["nBuckets", "eps", "roundDigits", "bins", "vocabK", "k"]}} —
    PSI histogram drift (default),
    two-sample KS (exact, or grid-binned via "bins"), binned
    1-D Wasserstein / earth-mover distance (integral of the ECDF gap —
    how much mass moved how far, in column units), chi-square
    categorical homogeneity, KL/JS token-distribution drift
    ("column" is then the text column), or tokenRankShift — the top-k
    tokens that climbed most in frequency rank between the two slices
    (the drill-down for a tripped tokens monitor) — between two
    datasets.
    Group-ranking form: {"command": "drift", "input": <input>,
    "params": {"method": "groupKs", "column", "groupColumn",
    ["bins", "roundDigits"]}} — per-group binned KS of each slice vs
    its complement on one shared grid (drift.groupwise_ks): the
    which-slice-drifted ranking over ONE dataset.
    Trend form: {"command": "drift", "input": <input>, "params":
    {"method": "trend", "column", ["tsColumn", "period", "nBuckets",
    "eps", "roundDigits"]}} — per-period PSI against the earliest
    period of ONE dataset (drift.psi_trend).
    Benford form: {"command": "drift", "input": <input>, "params":
    {"method": "benford", "column", ["intScale", "roundDigits"]}} —
    first-significant-digit law audit of ONE dataset's positive
    numeric column (drift.benford_first_digit)."""

    DEFAULT = "psi"

    reference: Input = None  # type: ignore[assignment]
    current: Input = None  # type: ignore[assignment]
    column: str = ""
    method: str = DEFAULT
    options: dict = field(default_factory=dict)

    NAME = "drift"
    # the one-dataset forms read "input" as both reference and current
    TABLE = {
        "psi": Method("drift:histogram_drift", _TWO_SLICES),
        "ks": Method("drift:ks_statistic", _TWO_SLICES),
        "wasserstein": Method("drift:wasserstein_binned", _TWO_SLICES),
        "chi2": Method("drift:chi2_drift", _TWO_SLICES),
        "tokens": Method("drift:token_distribution_drift", _TWO_SLICES),
        "tokenRankShift": Method("drift:token_rank_shift", _TWO_SLICES),
        "groupKs": Method(
            "drift:groupwise_ks", ("reference", "groupColumn", "column"),
            ("input",),
        ),
        "trend": Method(
            "drift:psi_trend", ("reference", "tsColumn=ts", "column"),
            ("input",),
        ),
        "benford": Method(
            "drift:benford_first_digit", ("reference", "column"), ("input",)
        ),
    }

    @classmethod
    def from_json(cls, obj: dict) -> "DriftCmd":
        p = obj["params"]
        method, options = cls._parse(obj)
        if "input" in cls.TABLE[method].inputs:
            reference = current = Input.from_json(obj["input"])
        else:
            reference = Input.from_json(obj["reference"])
            current = Input.from_json(obj["current"])
        return cls(
            reference=reference,
            current=current,
            column=p["column"],
            method=method,
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class DeconCmd(MethodCmd):
    """{"command": "decontaminate", "corpus": <input>, "benchmark":
    <input>, "params": {"idColumn", "textColumn", ["shingleN",
    "minCommon", "maxShingleDf"]}} — cross-corpus n-gram overlap.
    With {"method": "embedding", "idColumn", "vecColumn", ["threshold",
    "nPlanes", "dim"]} the screen is semantic instead: corpus vectors
    cosine-near a benchmark item (curation.embedding_decontaminate)."""

    DEFAULT = "ngram"

    corpus: Input = None  # type: ignore[assignment]
    benchmark: Input = None  # type: ignore[assignment]
    method: str = DEFAULT
    id_column: str = "id"
    text_column: str = "text"
    vec_column: str = "embedding"
    options: dict = field(default_factory=dict)

    NAME = "decontaminate"
    TABLE = {
        "ngram": Method(
            "curation:cross_corpus_overlap",
            ("corpus", "benchmark", "id_column", "text_column"),
        ),
        "embedding": Method(
            "curation:embedding_decontaminate",
            ("corpus", "benchmark", "id_column", "vec_column"),
        ),
    }

    @classmethod
    def from_json(cls, obj: dict) -> "DeconCmd":
        p = obj["params"]
        method, options = cls._parse(obj)
        return cls(
            corpus=Input.from_json(obj["corpus"]),
            benchmark=Input.from_json(obj["benchmark"]),
            method=method,
            id_column=p["idColumn"],
            text_column=p.get("textColumn", "text"),
            vec_column=p.get("vecColumn", "embedding"),
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class DsirCmd(MethodCmd):
    """{"command": "dsir", "raw": <input>, "target": <input>, "params":
    {"idColumn", ["textColumn", "nBuckets", "kSelect", "smooth",
    "scale", "salt"]}} — DSIR importance resampling (Xie 2023,
    curation.dsir_weights): score every raw-corpus doc by the hashed
    n-gram log-ratio between a target-slice model and the raw model,
    then deterministic Gumbel-top-k selection; emits per-doc weights +
    the ``selected`` flag."""

    raw: Input = None  # type: ignore[assignment]
    target: Input = None  # type: ignore[assignment]
    id_column: str = "id"
    text_column: str = "text"
    options: dict = field(default_factory=dict)

    NAME = DEFAULT = "dsir"
    TABLE = {
        DEFAULT: Method(
            "curation:dsir_weights",
            ("raw", "target", "id_column", "text_column"),
            ("raw", "target"),
        )
    }

    @classmethod
    def from_json(cls, obj: dict) -> "DsirCmd":
        p = obj["params"]
        _, options = cls._parse(obj, cls.DEFAULT)
        return cls(
            raw=Input.from_json(obj["raw"]),
            target=Input.from_json(obj["target"]),
            id_column=p["idColumn"],
            text_column=p.get("textColumn", "text"),
            options=options,
            **cls._common(obj),
        )


_LM_ARGS = ("target", "reference", "id_column", "text_column")


@dataclass(frozen=True)
class LmScoreCmd(MethodCmd):
    """{"command": "lmScore", "target": <input>, "reference": <input>,
    "params": {"idColumn", ["method": addkUnigram|stupidBackoff,
    "textColumn", "k", "alpha", "roundDigits"]}} —
    cross-corpus LM filter: train on the reference slice, score every
    target doc. ``addkUnigram`` (default) is the CCNet-style add-k
    unigram model (textqc.cross_perplexity: n_tokens, n_oov, oov_rate,
    avg_neg_logprob); ``stupidBackoff`` is the Brants 2007 trigram
    scorer (textqc.stupid_backoff: per-backoff-level hit counts +
    avg_neg_logscore — catches word-salad that keeps an in-domain
    unigram profile). Feed the score into a downstream
    assertion/qualityFilter gate."""

    DEFAULT = "addkUnigram"

    target: Input = None  # type: ignore[assignment]
    reference: Input = None  # type: ignore[assignment]
    method: str = DEFAULT
    id_column: str = "id"
    text_column: str = "text"
    options: dict = field(default_factory=dict)

    NAME = "lmScore"
    TABLE = {
        "addkUnigram": Method("textqc:cross_perplexity", _LM_ARGS),
        "stupidBackoff": Method("textqc:stupid_backoff", _LM_ARGS),
    }

    @classmethod
    def from_json(cls, obj: dict) -> "LmScoreCmd":
        p = obj["params"]
        # the two smoothing params are easy to swap: name the right one
        method = p.get("method", cls.DEFAULT)
        if method == "stupidBackoff" and "k" in p:
            raise ValueError(
                'lmScore: "k" is the addkUnigram smoothing param; '
                'stupidBackoff takes "alpha"'
            )
        if method == "addkUnigram" and "alpha" in p:
            raise ValueError(
                'lmScore: "alpha" is the stupidBackoff penalty; '
                'addkUnigram takes "k"'
            )
        method, options = cls._parse(obj)
        return cls(
            target=Input.from_json(obj["target"]),
            reference=Input.from_json(obj["reference"]),
            method=method,
            id_column=p["idColumn"],
            text_column=p.get("textColumn", "text"),
            options=options,
            **cls._common(obj),
        )


_SEGMENT_ARGS = ("input", "vocab", "id_column", "text_column")


@dataclass(frozen=True)
class TokenizeCmd(MethodCmd):
    """{"command": "tokenize", "input": <target>, "vocab": <input>,
    "params": {"idColumn", ["method", "textColumn", "maxPieceLen",
    "maxWordLen", "roundDigits"]}} — apply a TRAINED tokenizer to
    segment new data: per doc n_tokens/n_subwords/fertility, the
    deployment step of the tokenizer lifecycle. method "unigram"
    (default) expects a piece/lp_milli vocabulary (a text.unigramLm
    output read from the registry or a mounted table) and runs
    textqc.unigram_segment; method "bpe" expects a merge_rank/lhs/rhs
    merge list (a text.bpeMergeSequence output) and runs
    textqc.bpe_segment; method "wordpiece" expects a piece frame (a
    text.wordpieceVocab output) and runs textqc.wordpiece_segment's
    greedy longest-match walk. maxPieceLen/maxWordLen apply to unigram
    and wordpiece (BPE segments every word — the open-vocabulary
    fallback to characters needs no bounds) and are rejected under
    method "bpe"."""

    DEFAULT = "unigram"

    input: Input = None  # type: ignore[assignment]
    vocab: Input = None  # type: ignore[assignment]
    method: str = DEFAULT
    id_column: str = "id"
    text_column: str = "text"
    options: dict = field(default_factory=dict)

    NAME = "tokenize"
    TABLE = {
        "unigram": Method("textqc:unigram_segment", _SEGMENT_ARGS),
        "bpe": Method("textqc:bpe_segment", _SEGMENT_ARGS),
        "wordpiece": Method("textqc:wordpiece_segment", _SEGMENT_ARGS),
    }

    @classmethod
    def from_json(cls, obj: dict) -> "TokenizeCmd":
        p = obj["params"]
        method, options = cls._parse(obj)
        return cls(
            input=Input.from_json(obj["input"]),
            vocab=Input.from_json(obj["vocab"]),
            method=method,
            id_column=p["idColumn"],
            text_column=p.get("textColumn", "text"),
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class SampleCmd(MethodCmd):
    """{"command": "sample", "input": <input>, "params": {"idColumn",
    "stratColumn", "rates": {stratum: rate}, ["defaultRate"]}} —
    deterministic md5-threshold stratified sampling. Alternative form:
    {"idColumn", "weightColumn", ["salt"]} — per-row weighted Bernoulli
    (curation.weighted_sample, keep probability = clamp(weight, 0, 1)).
    Third form: {"idColumn", "textColumn", "groupColumn",
    "budgetTokens", ["alpha"]} — mixture sampling to a global token
    budget (curation.sample_to_token_budget). Fourth form:
    {"idColumn", "weightColumn", "n", ["salt"]} — exact-n weighted
    sampling without replacement (curation.weighted_sample_topn,
    A-Res). Fifth form: {"idColumn", "orderColumn", "partitionColumn",
    ["nBands", "salt"]} — quality-curriculum banded keep rates
    (curation.curriculum_sample)."""

    input: Input = None  # type: ignore[assignment]
    id_column: str = "id"
    strat_column: str = ""
    weight_column: str = ""
    order_column: str = ""
    text_column: str = "text"
    budget_tokens: int = 0
    rates: tuple[tuple[str, float], ...] = ()
    method: str = "stratified"
    options: dict = field(default_factory=dict)

    NAME = "sample"
    TABLE = {
        "stratified": Method(
            "curation:stratified_sample",
            ("input", "id_column", "strat_column", "_rates"), _IN,
        ),
        "weighted": Method(
            "curation:weighted_sample",
            ("input", "id_column", "weight_column"), _IN,
        ),
        "weightedTopn": Method(
            "curation:weighted_sample_topn",
            ("input", "id_column", "weight_column", "n"), _IN,
        ),
        "budget": Method(
            "curation:sample_to_token_budget",
            ("input", "id_column", "text_column", "strat_column",
             "budget_tokens"),
            _IN,
        ),
        "curriculum": Method(
            "curation:curriculum_sample",
            ("input", "id_column", "order_column", "strat_column"), _IN,
        ),
    }

    @classmethod
    def from_json(cls, obj: dict) -> "SampleCmd":
        p = obj["params"]
        if "budgetTokens" in p:
            if "weightColumn" in p or "rates" in p:
                raise ValueError(
                    "sample: budgetTokens and weightColumn/rates are "
                    "mutually exclusive"
                )
            method = "budget"
            form = dict(
                strat_column=p["groupColumn"],
                text_column=p.get("textColumn", "text"),
                budget_tokens=int(p["budgetTokens"]),
            )
        elif "orderColumn" in p:
            if "weightColumn" in p or "rates" in p:
                raise ValueError(
                    "sample: orderColumn (curriculum form) and "
                    "weightColumn/rates are mutually exclusive"
                )
            method = "curriculum"
            form = dict(
                strat_column=p["partitionColumn"],
                order_column=p["orderColumn"],
            )
        elif "weightColumn" in p:
            if "stratColumn" in p or "rates" in p:
                raise ValueError(
                    "sample: weightColumn and stratColumn/rates are "
                    "mutually exclusive"
                )
            method = "weightedTopn" if "n" in p else "weighted"
            form = dict(weight_column=p["weightColumn"])
        else:
            method = "stratified"
            form = dict(
                strat_column=p["stratColumn"],
                rates=tuple(sorted(p["rates"].items())),
            )
        _, options = cls._parse(obj, method)
        return cls(
            input=Input.from_json(obj["input"]),
            id_column=p["idColumn"],
            method=method,
            options=options,
            **form,
            **cls._common(obj),
        )

    def _arg(self, name, engine, opts, frames):
        if name == "_rates":
            return dict(self.rates)
        return super()._arg(name, engine, opts, frames)


@dataclass(frozen=True)
class FdCheckCmd(MethodCmd):
    """{"command": "fdCheck", "input": <input>, "params": {"pairs":
    [["determinant", "dependent"], ...], ["roundDigits"]}} — functional-
    dependency audit (integrity.fd_check): one summary row per claimed
    A → B dependency (n_keys, n_violating, violation_frac, holds) — the
    denormalization-drift detector next to the integrity command's
    FK orphan accounting."""

    input: Input = None  # type: ignore[assignment]
    pairs: tuple[tuple[str, str], ...] = ()
    options: dict = field(default_factory=dict)

    NAME = DEFAULT = "fdCheck"
    TABLE = {DEFAULT: Method("integrity:fd_check", ("input", "pairs"), _IN)}

    @classmethod
    def from_json(cls, obj: dict) -> "FdCheckCmd":
        p = obj["params"]
        raw = p.get("pairs")
        if not raw:
            raise ValueError('fdCheck: params.pairs must be a non-empty list')
        pairs = []
        for pair in raw:
            if len(pair) != 2:
                raise ValueError(
                    f"fdCheck: each pair must be [determinant, dependent], "
                    f"got {pair!r}"
                )
            pairs.append((pair[0], pair[1]))
        _, options = cls._parse(obj, cls.DEFAULT)
        return cls(
            input=Input.from_json(obj["input"]),
            pairs=tuple(pairs),
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class IntegrityCmd(Command):
    """{"command": "integrity", "relations": [{"name", "child": <input>,
    "fk": [...], "parent": <input>, "pk": [...]}]} — one summary row per
    child→parent relation (orphans + NULL-FK accounting)."""

    relations: tuple[tuple[str, Input, tuple[str, ...], Input, tuple[str, ...]], ...] = ()

    NAME = "integrity"

    @classmethod
    def from_json(cls, obj: dict) -> "IntegrityCmd":
        rels = tuple(
            (
                r["name"],
                Input.from_json(r["child"]),
                tuple(r["fk"]),
                Input.from_json(r["parent"]),
                tuple(r["pk"]),
            )
            for r in obj["relations"]
        )
        return cls(relations=rels, **cls._common(obj))

    def execute(self, engine) -> DataFrame:
        from topnotch_spark.operators.integrity import referential_integrity_suite

        resolved = [
            (
                name,
                load_input(engine.spark, child, engine.registry),
                list(fk),
                load_input(engine.spark, parent, engine.registry),
                list(pk),
            )
            for name, child, fk, parent, pk in self.relations
        ]
        return referential_integrity_suite(resolved)


@dataclass(frozen=True)
class SkewCmd(MethodCmd):
    """{"command": "skewProfile", "input": <input>, "params":
    {"keys": [...], ["method": topk|saltPlan, "k",
    "targetRowsPerTask", "maxSalt"]}} — ``topk`` (default): the
    heaviest key values with row share (the pre-join skew diagnostic);
    ``saltPlan``: per hot key the exact-integer salt factor that splits
    it to the target task size (the prescription salted_join then
    applies)."""

    DEFAULT = "topk"

    input: Input = None  # type: ignore[assignment]
    keys: tuple[str, ...] = ()
    method: str = DEFAULT
    options: dict = field(default_factory=dict)

    NAME = "skewProfile"
    TABLE = {
        "topk": Method("skew:key_skew_topk", ("input", "keys")),
        "saltPlan": Method("skew:salt_plan", ("input", "keys")),
    }

    @classmethod
    def from_json(cls, obj: dict) -> "SkewCmd":
        p = obj["params"]
        method, options = cls._parse(obj)
        return cls(
            input=Input.from_json(obj["input"]),
            keys=tuple(p["keys"]),
            method=method,
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class SplitCmd(MethodCmd):
    """{"command": "split", "input": <input>, "params": {"idColumn",
    "fractions": {split: fraction}, ["salt"]}} — deterministic
    hash-based train/val/test assignment (seedless, growth-stable).
    Leakage form: add "textColumn" (and optionally "holdoutSplit",
    "trainSplit", "shingleN", "maxShingleDf") to get the cross-split
    n-gram contamination report instead (curation.split_leakage).
    Cluster-safe form: "textColumn" + "clusterSafe": true assigns
    splits by near-dup CLUSTER (curation.cluster_safe_split; optional
    "numHashes", "bands", "threshold", "shingleN", "salt") so
    near-duplicates never straddle a split."""

    input: Input = None  # type: ignore[assignment]
    id_column: str = "id"
    text_column: str = ""
    fractions: tuple[tuple[str, float], ...] = ()
    method: str = "hash"
    options: dict = field(default_factory=dict)

    NAME = "split"
    TABLE = {
        "hash": Method(
            "curation:hash_split", ("input", "id_column", "_fractions"), _IN
        ),
        "leakage": Method(
            "curation:split_leakage",
            ("input", "id_column", "text_column", "_fractions"), _IN,
        ),
        # the options keep the plan's "clusterSafe": true
        "clusterSafe": Method(
            "curation:cluster_safe_split",
            ("input", "id_column", "text_column", "_fractions"), _IN,
            drops=("cluster_safe",),
        ),
    }

    @classmethod
    def from_json(cls, obj: dict) -> "SplitCmd":
        p = obj["params"]
        if p.get("clusterSafe"):
            if "textColumn" not in p:
                raise ValueError(
                    'split: "clusterSafe" requires "textColumn" (the '
                    "near-dup clustering needs document text)"
                )
            method = "clusterSafe"
        else:
            method = "leakage" if "textColumn" in p else "hash"
        if method != "leakage" and not p.get("fractions"):
            raise ValueError("split: fractions must be non-empty")
        _, options = cls._parse(obj, method)
        return cls(
            input=Input.from_json(obj["input"]),
            id_column=p["idColumn"],
            text_column=p.get("textColumn", ""),
            # insertion order is the split-boundary order, so keep it
            fractions=tuple(p.get("fractions", {}).items()),
            method=method,
            options=options,
            **cls._common(obj),
        )

    def _arg(self, name, engine, opts, frames):
        if name == "_fractions":
            return dict(self.fractions) or None
        return super()._arg(name, engine, opts, frames)


_TS = "tsColumn=ts"
# default matches the events-table convention used throughout the repo
_TIEBREAK = "tiebreakColumn=event_id"
_KEY_TS = ("input", "keyColumn", _TS)


@dataclass(frozen=True)
class SequenceCmd(_AllParamsCmd):
    """{"command": "sequence", "input": <input>, "params": {"method":
    throttle|transitions|funnel|retention|rolling|trend|ewma|anomaly|gaps|
    paths, "tsColumn", "tiebreakColumn",
    throttle: {"keyColumns", "minGapSeconds"},
    transitions/funnel: {"keyColumn"/"userColumn", "stateColumn",
    funnel: "stages"}, retention: {"keyColumn"},
    rolling: {"keyColumn", "valueColumn", ["windowSeconds", "decimals"]},
    trend: {"keyColumn", "valueColumn", ["decimals"]},
    ewma: {"keyColumn", "valueColumn", ["terms", "decimals"]},
    anomaly: {"keyColumn", "valueColumn", ["windowRows", "threshold",
    "minRows", "decimals"]}, gaps: {"keyColumn"},
    paths: {"keyColumn", "stateColumn", ["nSteps", "k"]} — top-k
    frequent n-step state paths (overlapping n-grams of the per-key
    ordered stream),
    likelihood: {"keyColumn", "stateColumn", ["k", "roundDigits"]} —
    per-key sequence likelihood under the corpus's own add-k Markov
    transition model (the behavioral-anomaly screen),
    cusum: {"keyColumn", "valueColumn", ["driftK", "thresholdH",
    "decimals", "roundDigits"]} — per-key two-sided CUSUM mean-shift
    detection (Page 1954): alarms on sustained small drifts the
    z-score spike detector cannot see}} —
    per-key ordered-sequence operators over event streams."""

    input: Input = None  # type: ignore[assignment]
    method: str = "throttle"
    params: tuple[tuple[str, Any], ...] = ()

    NAME = "sequence"
    TABLE = {
        "throttle": Method(
            "temporal:throttle_dedup",
            ("input", "keyColumns", _TS, _TIEBREAK, "minGapSeconds"),
        ),
        "transitions": Method(
            "temporal:transition_counts", (*_KEY_TS, _TIEBREAK, "stateColumn")
        ),
        "funnel": Method(
            "temporal:funnel_stages",
            ("input", "userColumn", _TS, "stateColumn", "stages"),
        ),
        "retention": Method("temporal:retention_cohorts", _KEY_TS),
        "rolling": Method(
            "temporal:rolling_window_agg", (*_KEY_TS, "valueColumn")
        ),
        "trend": Method("temporal:trend_per_key", (*_KEY_TS, "valueColumn")),
        "ewma": Method(
            "temporal:ewma_per_key", (*_KEY_TS, "valueColumn", _TIEBREAK)
        ),
        "anomaly": Method(
            "temporal:rolling_zscore_anomalies",
            (*_KEY_TS, "valueColumn", _TIEBREAK),
        ),
        "gaps": Method("temporal:interarrival_stats", (*_KEY_TS, _TIEBREAK)),
        "paths": Method(
            "temporal:frequent_paths", (*_KEY_TS, _TIEBREAK, "stateColumn")
        ),
        "likelihood": Method(
            "temporal:sequence_likelihood",
            (*_KEY_TS, _TIEBREAK, "stateColumn"),
        ),
        "cusum": Method(
            "temporal:cusum_changepoints", (*_KEY_TS, _TIEBREAK, "valueColumn")
        ),
    }


@dataclass(frozen=True)
class WinsorizeCmd(MethodCmd):
    """{"command": "winsorize", "input": <input>, "params":
    {"valueColumn", ["groupColumns", "lowerP", "upperP", "exact",
    "roundDigits"]}} — percentile clipping; exact=false selects the
    t-digest approx path for scale."""

    input: Input = None  # type: ignore[assignment]
    value_column: str = ""
    group_columns: tuple[str, ...] = ()
    options: dict = field(default_factory=dict)

    NAME = DEFAULT = "winsorize"
    TABLE = {
        DEFAULT: Method(
            "curation:winsorize",
            ("input", "value_column", "group_columns"), _IN,
        )
    }

    @classmethod
    def from_json(cls, obj: dict) -> "WinsorizeCmd":
        p = obj["params"]
        _, options = cls._parse(obj, cls.DEFAULT)
        return cls(
            input=Input.from_json(obj["input"]),
            value_column=p["valueColumn"],
            group_columns=tuple(p.get("groupColumns", [])),
            options=options,
            **cls._common(obj),
        )


_TEXT = "textColumn=text"


@dataclass(frozen=True)
class CorpusStatsCmd(_AllParamsCmd):
    """{"command": "corpusStats", "input": <input>, "params": {"method":
    mix|mixturePlan|dedupRate|tokenHistogram|qualityBands|vocabOverlap|
    diversity, per-method columns}} — corpus-level rollups for
    training-mix planning. diversity takes {"groupColumn", "catColumn"}
    and emits Shannon/Simpson/Gini indices per group. mixturePlan takes
    {"groupColumn", "targetsMilli": {source: milli}, "budgetTokens",
    ["maxRepeatMilli", "textColumn"]} and emits the exact waterfilled
    token allocation per source (curation.mixture_allocate)."""

    input: Input = None  # type: ignore[assignment]
    method: str = "mix"
    params: tuple[tuple[str, Any], ...] = ()

    NAME = "corpusStats"
    TABLE = {
        "mix": Method(
            "curation:source_mix_weights", ("input", "groupColumn", _TEXT)
        ),
        "mixturePlan": Method(
            "curation:mixture_allocate",
            ("input", "groupColumn", _TEXT, "targetsMilli", "budgetTokens"),
        ),
        "dedupRate": Method(
            "dedup:dedup_rate_by_group",
            ("input", "idColumn", _TEXT, "groupColumn"),
        ),
        "tokenHistogram": Method(
            "textqc:token_length_histogram", ("input", _TEXT)
        ),
        "qualityBands": Method(
            "textqc:quality_bands", ("input", "idColumn", "orderColumn")
        ),
        "vocabOverlap": Method(
            "textqc:vocab_overlap", ("input", _TEXT, "groupColumn")
        ),
        "diversity": Method(
            "curation:corpus_diversity", ("input", "groupColumn", "catColumn")
        ),
    }


@dataclass(frozen=True)
class CmsCmd(_KeyedCmd):
    """{"command": "cms", "input": <input>, "params": {"method":
    build|query|joinSize, "keyColumn", ["idColumn", "width", "depth",
    "rightKeyColumn", "roundDigits"]},
    ["sketch": <input>], ["right": <input>]} — mergeable Count-Min
    frequency sketch
    (operators/sketch.cms_build/cms_query). ``build`` emits the
    (row_idx, col_idx, cnt) cell table (persist it via outputs; merge
    batches by summing cells); ``query`` probes the broadcast
    ``sketch`` input and emits (id, est_count) — never underestimates.
    ``joinSize`` estimates |input ⋈ right| on keyColumn =
    rightKeyColumn from both sides' sketches (the AMS inner-product
    estimator, sketch.cms_join_size) and grades it against the exact
    per-key counts join.
    NULL keys hash as empty strings, like the bloom command."""

    input: Input = None  # type: ignore[assignment]
    sketch_input: Input | None = None
    right_input: Input | None = None
    method: str = "build"
    key_column: str = "key"
    right_key_column: str | None = None
    id_column: str = "id"
    options: dict = field(default_factory=dict)

    NAME = "cms"
    TABLE = {
        "build": Method("sketch:cms_build", ("input", "keyColumn")),
        "query": Method(
            "sketch:cms_query",
            ("input", "id_column", "keyColumn", "sketch_input"),
            ("sketch",),
        ),
        "joinSize": Method(
            "sketch:cms_join_size",
            ("input", "keyColumn", "right_input", "rightKeyColumn"),
            ("right",),
        ),
    }

    @classmethod
    def from_json(cls, obj: dict) -> "CmsCmd":
        p = obj["params"]
        method, options = cls._parse(obj)
        return cls(
            input=Input.from_json(obj["input"]),
            sketch_input=(
                Input.from_json(obj["sketch"]) if "sketch" in obj else None
            ),
            right_input=(
                Input.from_json(obj["right"]) if "right" in obj else None
            ),
            method=method,
            key_column=p["keyColumn"],
            right_key_column=p.get("rightKeyColumn"),
            id_column=p.get("idColumn", "id"),
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class GraphCmd(Command):
    """{"command": "graph", "input": <input>, "params": {"method":
    pagerank|ppr|triangles|components|labelProp|kcore, EITHER
    "srcColumn"+"dstColumn"
    (input is an
    undirected unique edge list) OR "basketColumn"+"itemColumn" (edges
    are built by co-occurrence within a basket; "maxBasketItems" /
    "minSupport" bound the pair join), pagerank/ppr: ["iters", "scale",
    "dampNum", "dampDen", "broadcastRanks" — false switches the
    per-round rank join from the node-sized broadcast to the
    partitioned equi-join for web-scale node sets, "tolScaled" —
    delta early-exit with an n_rounds output column],
    ppr: "seeds" (literal node-id list) +
    ["weightColumn" — an edge-list input's integer weight column, or
    "pairCount" to weight built co-occurrence edges], triangles:
    ["roundDigits"]}} — graph analytics (operators/graph.py):
    fixed-point PageRank node importance, personalized (seeded,
    weighted) PageRank related-item walks, ordered-wedge triangle
    counts, and connected components (min-label propagation with
    pointer jumping — the same engine the dedup cluster methods use,
    here over ANY edge list). ``labelProp`` is synchronous
    label-propagation community detection (weighted votes via
    "weightColumn", min-label tie-break; ["iters",
    "broadcastLabels"]) — density communities where components give
    reachability. ``kcore`` peels nodes of degree < k until stable
    ({["k", "maxRounds"]}) — the dense-backbone extraction; emits
    degree / in_kcore / core_degree per node."""

    input: Input = None  # type: ignore[assignment]
    method: str = "pagerank"
    src_column: str | None = None
    dst_column: str | None = None
    basket_column: str | None = None
    item_column: str | None = None
    options: dict = field(default_factory=dict)

    NAME = "graph"
    METHODS = (
        "pagerank", "ppr", "triangles", "components", "labelProp", "kcore",
    )

    @classmethod
    def from_json(cls, obj: dict) -> "GraphCmd":
        p = obj["params"]
        _method_of(p, cls.METHODS, "graph")
        has_edges = "srcColumn" in p and "dstColumn" in p
        has_basket = "basketColumn" in p and "itemColumn" in p
        if not has_edges and not has_basket:
            raise ValueError(
                "graph: params need srcColumn+dstColumn (edge-list input) "
                "or basketColumn+itemColumn (co-occurrence edges)"
            )
        if p["method"] == "ppr" and "seeds" not in p:
            raise ValueError("graph: method 'ppr' requires param 'seeds'")
        return cls(
            input=Input.from_json(obj["input"]),
            method=p["method"],
            src_column=p.get("srcColumn"),
            dst_column=p.get("dstColumn"),
            basket_column=p.get("basketColumn"),
            item_column=p.get("itemColumn"),
            options=_opt(
                p,
                "maxBasketItems",
                "minSupport",
                "iters",
                "scale",
                "dampNum",
                "dampDen",
                "roundDigits",
                "seeds",
                "weightColumn",
                "broadcastRanks",
                "tolScaled",
                "broadcastLabels",
                "k",
                "maxRounds",
            ),
            **cls._common(obj),
        )

    def execute(self, engine) -> DataFrame:
        from pyspark.sql import functions as F

        from topnotch_spark.operators.graph import (
            cooccurrence_edges,
            pagerank,
            triangle_counts,
        )

        df = load_input(engine.spark, self.input, engine.registry)
        o = dict(self.options)
        weight = o.pop("weight_column", None)
        if self.src_column is not None:
            cols = [
                F.col(self.src_column).alias("src"),
                F.col(self.dst_column).alias("dst"),
            ]
            # On the edge-list path EVERY weightColumn value is a plain
            # column of the input — including the literal "pairCount",
            # which is only an alias for the built pair count on the
            # basket path. Selecting it here (aliased to "w") turns the
            # former unresolved-column AnalysisException into normal
            # missing-column validation at select time.
            if weight is not None:
                cols.append(F.col(weight).alias("w"))
                weight = "w"
            edges = df.select(*cols)
        else:
            # NOTE: _opt stores snake_case keys — the r8 version popped
            # the camelCase spellings here, so plan-set maxBasketItems/
            # minSupport (and dampNum/dampDen below) silently fell back
            # to defaults. Regression-tested in test_round9.py.
            edges = cooccurrence_edges(
                df,
                self.basket_column,
                self.item_column,
                max_basket_items=o.pop("max_basket_items", 12),
                min_support=o.pop("min_support", 1),
            )
            if weight == "pairCount":
                weight = "pair_count"
        o.pop("max_basket_items", None)
        o.pop("min_support", None)
        walk_opts = dict(
            iters=o.get("iters", 8),
            scale=o.get("scale", 10**12),
            damp_num=o.get("damp_num", 17),
            damp_den=o.get("damp_den", 20),
            broadcast_ranks=o.get("broadcast_ranks", True),
            tol_scaled=o.get("tol_scaled"),
        )
        if self.method == "pagerank":
            return pagerank(edges, **walk_opts)
        if self.method == "ppr":
            from topnotch_spark.operators.graph import personalized_pagerank

            seeds = engine.spark.createDataFrame(
                [(int(x),) for x in o.pop("seeds")], "node long"
            )
            return personalized_pagerank(
                edges, seeds, weight_col=weight, **walk_opts
            )
        if self.method == "kcore":
            from topnotch_spark.operators.graph import k_core

            return k_core(
                edges,
                k=o.get("k", 3),
                max_rounds=o.get("max_rounds", 8),
            )
        if self.method == "labelProp":
            from topnotch_spark.operators.graph import label_propagation

            return label_propagation(
                edges,
                iters=o.get("iters", 5),
                weight_col=weight,
                broadcast_labels=o.get("broadcast_labels", True),
            )
        if self.method == "components":
            from topnotch_spark.operators.cluster import connected_components

            return connected_components(edges, src="src", dst="dst").select(
                "id", F.col("comp").alias("component_id")
            )
        return triangle_counts(edges, round_digits=o.get("round_digits", 6))


@dataclass(frozen=True)
class QuantileSketchCmd(MethodCmd):
    """{"command": "quantileSketch", "input": <input>, "params":
    {"method": build|merge|accuracy|groupJaccard, "idColumn",
    "valueColumn",
    ["k", "salt", "qs", "roundDigits", "groupColumn", "textColumn",
    "gradeExact"]}, ["parts": [<input>, ...]]} —
    mergeable KMV quantile sketch (operators/sketch.kmv_*). ``build``
    emits the (value, __h__) bottom-k-by-hash sample (persist it via
    outputs); ``merge`` re-takes bottom-k over the ``parts`` inputs
    (exactly equal to a whole-corpus build); ``accuracy`` grades the
    sketch's quantile estimates against one exact counting pass and
    emits the per-quantile verdict frame; ``groupJaccard`` estimates
    pairwise distinct-set union/Jaccard/intersection between the
    "groupColumn" slices from bottom-k sketches
    (sketch.kmv_group_jaccard — set "textColumn" to sketch the token
    vocabulary instead of a value column, "gradeExact" to add the
    exact-join audit columns)."""

    input: Input | None = None
    parts: tuple = ()
    method: str = "build"
    id_column: str = "id"
    value_column: str = "value"
    group_column: str | None = None
    text_column: str | None = None
    options: dict = field(default_factory=dict)

    NAME = "quantileSketch"
    TABLE = {
        "build": Method("sketch:kmv_build", _ID_VALUE),
        "merge": Method("sketch:kmv_merge", ("parts",)),
        "accuracy": Method("sketch:kmv_accuracy", _ID_VALUE),
        "groupJaccard": Method(
            "sketch:kmv_group_jaccard",
            ("_values", "groupColumn", "_value_column"),
        ),
    }

    @classmethod
    def from_json(cls, obj: dict) -> "QuantileSketchCmd":
        p = obj["params"]
        method, options = cls._parse(obj)
        if method == "merge":
            if len(obj.get("parts", ())) < 2:
                raise ValueError(
                    'quantileSketch: method "merge" requires a "parts" '
                    "list of at least 2 sketch inputs"
                )
        elif "input" not in obj:
            raise ValueError(
                f'quantileSketch method {method!r} requires an "input"'
            )
        if (
            method == "groupJaccard"
            and "textColumn" not in p
            and "valueColumn" not in p
        ):
            raise ValueError(
                'quantileSketch: method "groupJaccard" requires '
                '"valueColumn" or "textColumn"'
            )
        return cls(
            input=(
                Input.from_json(obj["input"]) if "input" in obj else None
            ),
            parts=tuple(
                Input.from_json(x) for x in obj.get("parts", ())
            ),
            method=method,
            id_column=p.get("idColumn", "id"),
            value_column=p.get("valueColumn", "value"),
            group_column=p.get("groupColumn"),
            text_column=p.get("textColumn"),
            options=options,
            **cls._common(obj),
        )

    def _arg(self, name, engine, opts, frames):
        # groupJaccard sketches the value column, or with "textColumn"
        # the token vocabulary: one exploded row per (group, token)
        if name == "_value_column":
            return self.value_column if self.text_column is None else "__v__"
        if name != "_values":
            return super()._arg(name, engine, opts, frames)
        df = super()._arg("input", engine, opts, frames)
        if self.text_column is None:
            return df
        from pyspark.sql import functions as F

        from topnotch_spark.functions.text import tokens

        return df.select(
            self.group_column,
            F.explode(tokens(self.text_column)).alias("__v__"),
        )


@dataclass(frozen=True)
class MembershipCmd(_KeyedCmd):
    """{"command": "bloom", "input": <input>, "params": {"method":
    build|probe, "keyColumn", ["idColumn", "mBits", "kHashes"]},
    ["filter": <input>]} — distributed Bloom seen-set. ``build`` emits
    the (word_idx, word) filter table (persist it via outputs);
    ``probe`` joins the broadcast ``filter`` input and emits
    (id, bloom_hit). NULL keys hash as empty strings."""

    input: Input = None  # type: ignore[assignment]
    filter_input: Input | None = None
    method: str = "build"
    key_column: str = "text"
    id_column: str = "id"
    options: dict = field(default_factory=dict)

    NAME = "bloom"
    TABLE = {
        "build": Method("membership:bloom_build", ("input", "keyColumn")),
        "probe": Method(
            "membership:bloom_probe",
            ("input", "id_column", "keyColumn", "filter_input"),
            ("filter",),
        ),
    }

    @classmethod
    def from_json(cls, obj: dict) -> "MembershipCmd":
        p = obj["params"]
        method, options = cls._parse(obj)
        return cls(
            input=Input.from_json(obj["input"]),
            filter_input=(
                Input.from_json(obj["filter"]) if "filter" in obj else None
            ),
            method=method,
            key_column=p["keyColumn"],
            id_column=p.get("idColumn", "id"),
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class SpatialJoinCmd(MethodCmd):
    """{"command": "spatialJoin", "left": <input>, "right": <input>,
    "params": {"radius", ["leftXy": ["x","y"], "rightXy": ["x","y"],
    "suffixes": ["_l","_r"]]}} — grid-blocked within-radius join
    (operators/spatial.within_radius_join)."""

    left: Input = None  # type: ignore[assignment]
    right: Input = None  # type: ignore[assignment]
    radius: float = 0.0
    options: dict = field(default_factory=dict)

    NAME = DEFAULT = "spatialJoin"
    TABLE = {
        DEFAULT: Method(
            "spatial:within_radius_join",
            ("left", "right", "radius"), ("left", "right"),
        )
    }

    @classmethod
    def from_json(cls, obj: dict) -> "SpatialJoinCmd":
        p = obj["params"]
        _, options = cls._parse(obj, cls.DEFAULT)
        return cls(
            left=Input.from_json(obj["left"]),
            right=Input.from_json(obj["right"]),
            radius=float(p["radius"]),
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class SchemaCheckCmd(Command):
    """{"command": "schemaCheck", "input": <input>, "params":
    {"columns": [{"name", "type"}], ["allowExtra": true,
    "failOnViolation": false]}} — schema contract over an input: every
    expected column must exist with the expected Spark ``simpleString``
    type (case-insensitive); extra columns violate unless ``allowExtra``.
    Returns one row per expected/extra column with a status
    (ok | missing | type_mismatch | unexpected); with
    ``failOnViolation`` the plan halts instead — the metadata
    counterpart of the reference's static input validation
    (tnengine/TnPlanValidator.scala checks inputs EXIST; this checks
    they still look like what the plan was written against).

    Pure metadata: no job runs — the check reads the analyzed schema
    only, so it is free even on a 100 TB input.
    """

    input: Input = None  # type: ignore[assignment]
    columns: tuple[tuple[str, str], ...] = ()
    allow_extra: bool = True
    fail_on_violation: bool = False

    NAME = "schemaCheck"

    @classmethod
    def from_json(cls, obj: dict) -> "SchemaCheckCmd":
        p = obj["params"]
        return cls(
            input=Input.from_json(obj["input"]),
            columns=tuple((c["name"], c["type"]) for c in p["columns"]),
            allow_extra=bool(p.get("allowExtra", True)),
            fail_on_violation=bool(p.get("failOnViolation", False)),
            **cls._common(obj),
        )

    def execute(self, engine) -> DataFrame:
        df = load_input(engine.spark, self.input, engine.registry)
        actual = {f.name.lower(): f.dataType.simpleString() for f in df.schema.fields}
        rows: list[tuple[str, str | None, str | None, str]] = []
        for name, expected in self.columns:
            got = actual.get(name.lower())
            if got is None:
                rows.append((name, expected, None, "missing"))
            elif got.lower() != expected.lower():
                rows.append((name, expected, got, "type_mismatch"))
            else:
                rows.append((name, expected, got, "ok"))
        if not self.allow_extra:
            expected_names = {n.lower() for n, _ in self.columns}
            for f in df.schema.fields:
                if f.name.lower() not in expected_names:
                    rows.append(
                        (f.name, None, f.dataType.simpleString(), "unexpected")
                    )
        bad = [r for r in rows if r[3] != "ok"]
        if self.fail_on_violation and bad:
            detail = "; ".join(
                f"{n}: {st} (expected {e}, got {g})" for n, e, g, st in bad
            )
            raise ValueError(f"schemaCheck '{self.output_key}' failed: {detail}")
        return engine.spark.createDataFrame(
            rows, "column string, expected_type string, actual_type string, "
            "status string",
        )


@dataclass(frozen=True)
class BasketCmd(MethodCmd):
    """{"command": "basket", "input": <input>, "params":
    {"basketColumn", "itemColumn", ["minSupport", "maxBasketItems",
    "roundDigits"]}} — market-basket pair co-occurrence + lift
    (operators/basket.market_basket_pairs)."""

    input: Input = None  # type: ignore[assignment]
    basket_column: str = ""
    item_column: str = ""
    options: dict = field(default_factory=dict)

    NAME = DEFAULT = "basket"
    TABLE = {
        DEFAULT: Method(
            "basket:market_basket_pairs",
            ("input", "basket_column", "item_column"), _IN,
        )
    }

    @classmethod
    def from_json(cls, obj: dict) -> "BasketCmd":
        p = obj["params"]
        _, options = cls._parse(obj, cls.DEFAULT)
        return cls(
            input=Input.from_json(obj["input"]),
            basket_column=p["basketColumn"],
            item_column=p["itemColumn"],
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class KAnonymityCmd(MethodCmd):
    """{"command": "kAnonymity", "input": <input>, "params":
    {"quasiColumns": [...], ["k", "riskyOnly"]}} — re-identifiable
    quasi-identifier groups (operators/integrity.k_anonymity). With
    "sensitiveColumn" (+ optional "l") the audit runs l-DIVERSITY
    instead: groups whose rows span < l distinct sensitive values
    (operators/integrity.l_diversity). With "sensitiveColumn" AND "t"
    it runs T-CLOSENESS: groups whose sensitive-value distribution sits
    further than t (variational distance) from the table-wide one
    (operators/integrity.t_closeness) — "l" and "t" are mutually
    exclusive."""

    input: Input = None  # type: ignore[assignment]
    quasi_columns: tuple[str, ...] = ()
    sensitive_column: str | None = None
    mode: str = "k"
    options: dict = field(default_factory=dict)

    NAME = "kAnonymity"
    TABLE = {
        "k": Method("integrity:k_anonymity", ("input", "quasi_columns"), _IN),
        "l": Method(
            "integrity:l_diversity",
            ("input", "quasi_columns", "sensitive_column"), _IN,
        ),
        "t": Method(
            "integrity:t_closeness",
            ("input", "quasi_columns", "sensitive_column"), _IN,
        ),
    }

    @property
    def method(self) -> str:
        return self.mode

    @classmethod
    def from_json(cls, obj: dict) -> "KAnonymityCmd":
        p = obj["params"]
        sensitive = p.get("sensitiveColumn")
        if "t" in p and not sensitive:
            raise ValueError(
                "kAnonymity: param 't' (t-closeness) requires "
                "'sensitiveColumn'"
            )
        if "t" in p and "l" in p:
            raise ValueError(
                "kAnonymity: params 't' and 'l' are mutually exclusive "
                "(t-closeness vs l-diversity)"
            )
        mode = ("t" if "t" in p else "l") if sensitive else "k"
        _, options = cls._parse(obj, mode)
        return cls(
            input=Input.from_json(obj["input"]),
            quasi_columns=tuple(p["quasiColumns"]),
            sensitive_column=sensitive,
            mode=mode,
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class ScdCmd(MethodCmd):
    """{"command": "scd2", "current": <input>, "updates": <input>,
    "params": {"keys": [...], "tracked": [...], "effectiveColumn",
    ["validFrom", "validTo", "isCurrent", "validate"]}} — SCD2
    dimension-history merge (operators/scd.scd2_merge)."""

    current: Input = None  # type: ignore[assignment]
    updates: Input = None  # type: ignore[assignment]
    keys: tuple[str, ...] = ()
    tracked: tuple[str, ...] = ()
    effective_column: str = ""
    options: dict = field(default_factory=dict)

    NAME = DEFAULT = "scd2"
    TABLE = {
        DEFAULT: Method(
            "scd:scd2_merge",
            ("current", "updates", "keys", "tracked", "effective_column"),
            ("current", "updates"),
        )
    }

    @classmethod
    def from_json(cls, obj: dict) -> "ScdCmd":
        p = obj["params"]
        _, options = cls._parse(obj, cls.DEFAULT)
        return cls(
            current=Input.from_json(obj["current"]),
            updates=Input.from_json(obj["updates"]),
            keys=tuple(p["keys"]),
            tracked=tuple(p["tracked"]),
            effective_column=p["effectiveColumn"],
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class SketchCmd(MethodCmd):
    """{"command": "sketch", "input": <input>, "params":
    {"detailColumns": [...], "rollupColumns": [...], "valueColumn",
    ["lgK"]}} — mergeable HLL distinct-count rollup
    (operators/sketch.distinct_rollup): build one sketch per detail
    cell, union up to the rollup level, estimate. The pre-aggregatable
    distinct-count pattern — rollups never re-read the raw data."""

    input: Input = None  # type: ignore[assignment]
    detail_columns: tuple[str, ...] = ()
    rollup_columns: tuple[str, ...] = ()
    value_column: str = ""
    options: dict = field(default_factory=dict)

    NAME = DEFAULT = "sketch"
    TABLE = {
        DEFAULT: Method(
            "sketch:distinct_rollup",
            ("input", "detail_columns", "rollup_columns", "value_column"),
            _IN,
        )
    }

    @classmethod
    def from_json(cls, obj: dict) -> "SketchCmd":
        p = obj["params"]
        _, options = cls._parse(obj, cls.DEFAULT)
        return cls(
            input=Input.from_json(obj["input"]),
            detail_columns=tuple(p["detailColumns"]),
            rollup_columns=tuple(p.get("rollupColumns", [])),
            value_column=p["valueColumn"],
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class CdcApplyCmd(MethodCmd):
    """{"command": "cdcApply", "snapshot": <input>, "changes": <input>,
    "params": {"keys": [...], "tsColumn", ["opColumn",
    "tiebreakColumn"]}} — apply an ordered CDC upsert/delete log to a
    snapshot, latest change per key wins (operators/scd.cdc_apply)."""

    snapshot: Input = None  # type: ignore[assignment]
    changes: Input = None  # type: ignore[assignment]
    keys: tuple[str, ...] = ()
    ts_column: str = ""
    options: dict = field(default_factory=dict)

    NAME = DEFAULT = "cdcApply"
    TABLE = {
        DEFAULT: Method(
            "scd:cdc_apply",
            ("snapshot", "changes", "keys", "ts_column", "opColumn=op",
             "tiebreakColumn="),
            ("snapshot", "changes"),
        )
    }

    @classmethod
    def from_json(cls, obj: dict) -> "CdcApplyCmd":
        p = obj["params"]
        _, options = cls._parse(obj, cls.DEFAULT)
        return cls(
            snapshot=Input.from_json(obj["snapshot"]),
            changes=Input.from_json(obj["changes"]),
            keys=tuple(p["keys"]),
            ts_column=p["tsColumn"],
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class IntervalJoinCmd(MethodCmd):
    """{"command": "intervalJoin", "facts": <input>, "ranges": <input>,
    "params": {"valueColumn", "loColumn", "hiColumn",
    "rangeColumns": [...], ["on": [...], "chunkWidth",
    "broadcastRanges"]}} — point-in-interval lookup join
    (operators/temporal.interval_join)."""

    facts: Input = None  # type: ignore[assignment]
    ranges: Input = None  # type: ignore[assignment]
    value_column: str = ""
    lo_column: str = ""
    hi_column: str = ""
    range_columns: tuple[str, ...] = ()
    options: dict = field(default_factory=dict)

    NAME = DEFAULT = "intervalJoin"
    TABLE = {
        DEFAULT: Method(
            "temporal:interval_join",
            ("facts", "ranges", "value_column", "lo_column", "hi_column",
             "range_columns"),
            ("facts", "ranges"),
        )
    }

    @classmethod
    def from_json(cls, obj: dict) -> "IntervalJoinCmd":
        p = obj["params"]
        _, options = cls._parse(obj, cls.DEFAULT)
        return cls(
            facts=Input.from_json(obj["facts"]),
            ranges=Input.from_json(obj["ranges"]),
            value_column=p["valueColumn"],
            lo_column=p["loColumn"],
            hi_column=p["hiColumn"],
            range_columns=tuple(p["rangeColumns"]),
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class CompactCmd(MethodCmd):
    """{"command": "compact", "params": {"source", "dest",
    ["targetFileMB", "outputFormat"]}} — small-file compaction
    (sources/maintenance.compact_table); returns the one-row stats
    frame so later commands can assert on it."""

    source: str = ""
    dest: str = ""
    options: dict = field(default_factory=dict)

    NAME = DEFAULT = "compact"
    TABLE = {
        DEFAULT: Method(
            ".sources.maintenance:compact_table", ("spark", "source", "dest")
        )
    }

    @classmethod
    def from_json(cls, obj: dict) -> "CompactCmd":
        p = obj["params"]
        _, options = cls._parse(obj, cls.DEFAULT)
        return cls(
            source=p["source"],
            dest=p["dest"],
            options=options,
            **cls._common(obj),
        )


@dataclass(frozen=True)
class RetrieveCmd(MethodCmd):
    """{"command": "retrieve", "input": <input>, "params": {"queries":
    [[id, text], ...], ["idColumn", "textColumn", "k", "k1", "b",
    "maxTokenDf", "persistTf"]}} — BM25 top-k lexical retrieval over a
    document corpus (retrieval.bm25_topk). ``maxTokenDf`` is the
    viral-term valve: query terms whose document frequency exceeds it
    are dropped before the postings join (a stopword query term would
    otherwise drag ~|corpus| posting rows through the join).
    ``persistTf`` true/false forces/skips the shared tf-table persist;
    unset auto-gates on the corpus's input size (small corpora
    recompute, big ones materialize once)."""

    input: Input = None  # type: ignore[assignment]
    queries: tuple[tuple[int, str], ...] = ()
    id_column: str = "doc_id"
    text_column: str = "text"
    options: dict = field(default_factory=dict)

    NAME = DEFAULT = "retrieve"
    TABLE = {
        DEFAULT: Method(
            "retrieval:bm25_topk",
            ("spark", "input", "queries", "id_column", "text_column"), _IN,
        )
    }

    @classmethod
    def from_json(cls, obj: dict) -> "RetrieveCmd":
        p = obj["params"]
        qs = tuple((int(q[0]), str(q[1])) for q in p["queries"])
        if not qs:
            raise ValueError("retrieve: queries must be non-empty")
        _, options = cls._parse(obj, cls.DEFAULT)
        return cls(
            input=Input.from_json(obj["input"]),
            queries=qs,
            id_column=p.get("idColumn", "doc_id"),
            text_column=p.get("textColumn", "text"),
            options=options,
            **cls._common(obj),
        )


_UPSERT = ("spark", "indexPath", "input")


@dataclass(frozen=True)
class IndexCmd(MethodCmd):
    """{"command": "index", "input": <accepted rows>, "params":
    {"method": buildExact|buildMinhash|buildSemantic|buildPhash|
    buildAudio|buildVideo|upsertExact|upsertMinhash|upsertSemantic|
    upsertBitsig|upsertVideo|delete|stats, "idColumn",
    "textColumn"|"vecColumn"|"binColumn" (the blob column of the media
    builds, as in dedup),
    buildMinhash: numHashes/bands/shingleN, media builds:
    hashType/grid/bandBits/nFrames/everyN, upsert*/delete/stats:
    "indexPath" (+"pfxChars"/"bucketChars")}} — the persisted
    dedup-index LIFECYCLE
    as plan steps, so repeated-ingestion pipelines chain build → screen
    (dedup methods incremental/incrementalMinhash/incrementalSemantic)
    → upsert through the registry:

    - ``buildExact`` → (dup_key, index_id) content-hash index
      (dedup.build_dedup_index); ``buildMinhash`` → (index_id,
      band_idx, bucket, sigs) signature index (build_minhash_index);
      ``buildSemantic`` → (index_id, vec, nrm, centroid_id) member
      table (build_semantic_index — requires a "centroids" input, e.g.
      the similarity kmeans output). Persist the frame with
      outputPath/tableName to carry it across runs.
    - ``upsertExact`` / ``upsertMinhash`` / ``upsertSemantic`` fold
      accepted entries into the ON-DISK index at ``indexPath`` via
      partition-pruned dynamic overwrite (dedup.upsert_dedup_index /
      upsert_minhash_index / upsert_semantic_index) and return the
      one-row stats frame (n_*_touched, n_entries_written) for
      downstream assertions.
    - ``upsertBitsig`` / ``upsertVideo`` (r13) grow the media-side
      signature indexes; ``upsertSemantic`` takes an optional
      "centroids" input to PIN the routing matrix in the index's
      _tn_meta.json sidecar (re-trained matrices then raise).
    - ``delete`` (r13) retires ids: the input frame's ``idColumn``
      values are removed from EVERY partition of the index at
      ``indexPath`` (dedup.delete_from_index — right-to-be-forgotten /
      corrected-batch re-ingestion), fully-retired partition dirs
      dropped.
    - ``compactFiles`` (r13, indexPath only; maxFilesPerPartition)
      rewrites ONLY the partitions whose data-file count exceeds the
      bound, one file per partition (dedup.compact_index) — the
      maintenance step for the tiny-file buildup ``stats`` flags.
    - ``stats`` (indexPath only, no row input) audits the on-disk
      layout: per partition directory (partition, n_rows, n_files,
      bytes, rows_skew) — the between-rounds health check for hot
      buckets, tiny-file buildup, or non-uniform layouts
      (dedup.index_stats)."""

    input: Input = None  # type: ignore[assignment]
    centroids: Input | None = None
    method: str = "buildExact"
    id_column: str = "id"
    value_column: str = "text"
    index_path: str | None = None
    options: dict = field(default_factory=dict)

    NAME = "index"
    TABLE = {
        "buildExact": Method("dedup:build_dedup_index", _ID_VALUE),
        "buildMinhash": Method("dedup:build_minhash_index", _ID_VALUE),
        "buildSemantic": Method(
            "dedup:build_semantic_index",
            ("input", None, "id_column", "value_column", "centroids"),
            ("centroids",),
        ),
        "buildPhash": Method("multimodal:build_phash_index", _ID_VALUE),
        "buildAudio": Method("multimodal:build_audio_index", _ID_VALUE),
        "buildVideo": Method("multimodal:build_video_index", _ID_VALUE),
        "upsertExact": Method("dedup:upsert_dedup_index", _UPSERT),
        "upsertMinhash": Method("dedup:upsert_minhash_index", _UPSERT),
        # an optional "centroids" input pins the routing matrix in the
        # index's _tn_meta.json sidecar: later upserts with a re-trained
        # matrix raise, and incrementalSemantic routes from the on-disk truth
        "upsertSemantic": Method(
            "dedup:upsert_semantic_index", (*_UPSERT, "centroids")
        ),
        "upsertBitsig": Method("dedup:upsert_bitsig_index", _UPSERT),
        "upsertVideo": Method("dedup:upsert_video_index", _UPSERT),
        # input = the retired-id frame; idColumn names its column
        "delete": Method(
            "dedup:delete_from_index", (*_UPSERT, "id_column")
        ),
        # no row input: both read the on-disk layout directly
        "stats": Method("dedup:index_stats", ("spark", "indexPath")),
        "compactFiles": Method("dedup:compact_index", ("spark", "indexPath")),
    }

    @classmethod
    def from_json(cls, obj: dict) -> "IndexCmd":
        p = obj["params"]
        method, options = cls._parse(obj)
        return cls(
            input=(
                Input.from_json(obj["input"])
                if "input" in cls.TABLE[method].args
                else None
            ),
            centroids=(
                Input.from_json(obj["centroids"])
                if "centroids" in obj
                else None
            ),
            method=method,
            id_column=p.get("idColumn", "id"),
            value_column=_value_column(p),
            index_path=p.get("indexPath"),
            options=options,
            **cls._common(obj),
        )


def register() -> None:
    from topnotch_spark.plans.parser import EXTENSION_COMMANDS

    EXTENSION_COMMANDS.update(
        (cls.NAME, cls.from_json)
        for cls in globals().values()
        if isinstance(cls, type) and getattr(cls, "NAME", "")
    )


register()
