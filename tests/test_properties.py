"""Property-based tests (hypothesis) for the pure-Python core that the
pandas plugin host depends on."""

import json
import string
from datetime import datetime, timezone

from hypothesis import given, settings
from hypothesis import strategies as st

from defenda_data_lake_spark.operators.intake import split_concatenated_json
from defenda_data_lake_spark.utils.dates import to_utc
from defenda_data_lake_spark.utils.json_tree import (
    deep_merge,
    enum_keys,
    get_by_path,
    lowercase_keys_into,
)

keys = st.text(string.ascii_letters + "_-@#", min_size=1, max_size=8)
scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(-(2**31), 2**31),
    st.text(max_size=20),
)
json_values = st.recursive(
    scalars,
    lambda inner: st.one_of(
        st.lists(inner, max_size=4),
        st.dictionaries(keys, inner, max_size=4),
    ),
    max_leaves=20,
)
json_objects = st.dictionaries(keys, json_values, max_size=6)


@given(json_objects)
@settings(max_examples=200, deadline=None)
def test_lowercase_keys_idempotent_and_preserves_structure(obj):
    once = lowercase_keys_into(obj, set())
    assert lowercase_keys_into(once, set()) == once
    assert all(k == k.lower() for k in enum_keys(once))


@given(json_objects, json_objects)
@settings(max_examples=200, deadline=None)
def test_deep_merge_override_wins(base, override):
    merged = deep_merge(base, override)
    for k, v in override.items():
        if not (isinstance(v, dict) and isinstance(base.get(k), dict)):
            assert merged[k] == v
    for k in base:
        assert k in merged


@given(st.lists(json_objects, min_size=1, max_size=5))
@settings(max_examples=100, deadline=None)
def test_split_concatenated_json_roundtrip(objs):
    blob = "".join(json.dumps(o) for o in objs)
    pairs = list(split_concatenated_json(blob))
    assert [value for _, value in pairs] == objs
    assert [json.loads(text) for text, _ in pairs] == objs


# Blob tokens for the records accounting property.  Numbers and
# literals need whitespace before the next value ("1" "2" reads "12"),
# objects, arrays and strings do not.  Garbage starts with a character
# no JSON value starts with and holds no "{" or whitespace.  Text that
# does not decode ends where a value decodes after whitespace, or at
# the next "{", so garbage may precede any value: an object directly,
# any other value after at least one whitespace character
# (test_lake_e2e pins what garbage swallows without it).
_GARBAGE_HEAD = "abcdeghijklmopqrsuvwxyz!#$%&()*+,./:;<=>?@\\^_`|~]}"
_GARBAGE_TAIL = "".join(
    c for c in string.printable if c != "{" and c not in string.whitespace
)
garbage = st.builds(
    lambda head, tail: head + tail,
    st.sampled_from(_GARBAGE_HEAD),
    st.text(_GARBAGE_TAIL, max_size=8),
)
top_objects = st.dictionaries(
    keys.filter(lambda k: k != "Records"), json_values, max_size=4
)
values = st.one_of(
    top_objects,
    st.lists(json_values, max_size=4),
    scalars,
    st.floats(allow_nan=False, allow_infinity=False),
)
separators = st.text(" \t\n\r", max_size=3)
segments = st.one_of(
    st.tuples(values).map(lambda t: [("value", t[0])]),
    st.tuples(garbage, values).map(
        lambda t: [("garbage", t[0]), ("value", t[1])]
    ),
)


@given(
    st.lists(segments, max_size=6).map(lambda segs: [t for s in segs for t in s]),
    st.one_of(st.none(), garbage),
    st.data(),
)
@settings(max_examples=300, deadline=None)
def test_extract_events_accounts_for_every_value(tokens, tail, data):
    """Event extraction (``intake.records``): every value of a
    concatenated blob comes out exactly once, in blob order: a value
    (each element of a list) as itself with a raw that decodes to it,
    and garbage as its exact text."""
    from defenda_data_lake_spark.operators.intake import UNPARSEABLE, records

    if tail is not None:
        tokens = tokens + [("garbage", tail)]
    blob = data.draw(separators)
    want = []
    for i, (kind, token) in enumerate(tokens):
        if kind == "garbage":
            text = token
        else:
            text = json.dumps(token, indent=data.draw(st.sampled_from([None, 1])))
            want += [("value", r) for r in (token if isinstance(token, list) else [token])]
        nxt = tokens[i + 1][1] if i + 1 < len(tokens) else None
        if kind == "garbage":
            delimited = i + 1 == len(tokens) or isinstance(nxt, dict)
        else:
            delimited = isinstance(nxt, dict) or isinstance(token, (dict, list, str))
        sep = data.draw(separators if delimited else st.text(" \n", min_size=1))
        blob += text + sep
        if kind == "garbage":
            want.append(("garbage", text + sep))

    out = list(records(blob))
    got = [("garbage", raw) if value is UNPARSEABLE else ("value", value) for raw, value in out]
    assert got == want
    assert all(json.loads(raw) == value for raw, value in out if value is not UNPARSEABLE)


# Pieces of a blob for the windowed decode: values (escaped non-ASCII
# text becomes ``\uXXXX``), strings longer than a window, values cut
# short, garbage, and tokens whose end a window can cut.
blob_pieces = st.one_of(
    values.map(json.dumps),
    values.map(lambda v: json.dumps(v, indent=1)),
    st.text(max_size=120).map(lambda text: json.dumps({"s": text})),
    st.tuples(values, st.integers(1, 40)).map(lambda t: json.dumps(t[0])[: t[1]]),
    garbage,
    st.sampled_from(["-Infinity", "NaN", "1.5e3", '"\\u00e9', '"a\\', "[[["]),
)


@given(st.lists(st.tuples(blob_pieces, separators), max_size=8), st.integers(17, 80))
@settings(max_examples=300, deadline=None)
def test_split_concatenated_json_windows_change_nothing(pieces, window):
    """Decoding each value in a window of the blob splits the blob as
    decoding it in the whole blob does, wherever the window ends."""
    from unittest import mock

    from defenda_data_lake_spark.operators import intake

    blob = "".join(piece + sep for piece, sep in pieces)
    with mock.patch.object(intake, "_WINDOW", len(blob) + 1):
        whole = list(split_concatenated_json(blob))
    with mock.patch.object(intake, "_WINDOW", window):
        assert list(split_concatenated_json(blob)) == whole


@given(st.integers(1, 2**31))
@settings(max_examples=200, deadline=None)
def test_to_utc_epoch_seconds(epoch):
    assert to_utc(epoch) == datetime.fromtimestamp(epoch, timezone.utc)


@given(st.integers(10**9, 2**31))
@settings(max_examples=200, deadline=None)
def test_to_utc_epoch_magnitude_heuristic(epoch):
    # the magnitude heuristic assumes a 10-digit seconds epoch
    # (reference EPOCH_MAGNITUDE=9 semantics): for epochs >= 1e9
    # (2001-2038) the ms and us forms scale back to the same instant
    got = to_utc(epoch)
    assert to_utc(epoch * 1000) == got
    assert to_utc(float(epoch * 1_000_000)) == got


shellish_keys = st.one_of(
    keys,
    st.sampled_from(
        ["details", "tags", "severity", "timestamp", "time", "date", "kind",
         "src", "ipaddress", "eventid", "plugins", "summary"]
    ),
)
shellish_objects = st.dictionaries(shellish_keys, json_values, max_size=6)


@given(shellish_objects)
@settings(max_examples=150, deadline=None)
def test_pipeline_host_contract_on_arbitrary_events(obj):
    """The host contract over ANY JSON object — including ones that
    collide with shell keys or plugin trigger fields: either the
    pipeline yields a shell-conformant event, or it raises and the
    Arrow host quarantines the record (reference semantics: a plugin
    exception marks the record ProcessingFailed; e.g. a non-dict
    pre-existing ``details`` makes the shell demotion crash there
    too)."""
    from defenda_data_lake_spark.operators.pipeline import (
        default_plugins,
        run_pipeline,
    )
    from defenda_data_lake_spark.schema import SHELL_FIELDS

    try:
        result = run_pipeline(obj, default_plugins())
    except Exception:
        return  # host quarantines (ProcessingFailed) — acceptable
    assert result is not None
    assert set(result.keys()) <= set(SHELL_FIELDS)
    for field in ("utctimestamp", "severity", "summary", "category", "source"):
        assert field in result
    # executed plugin names are appended after any pre-existing content;
    # the enrichment pass (ensure_eventid) always runs last
    assert result["plugins"][-1] == "ensure_eventid"
    assert "eventid" in result


@given(json_objects, st.lists(keys, min_size=1, max_size=4))
@settings(max_examples=200, deadline=None)
def test_get_by_path_never_raises(obj, path_segs):
    # arbitrary paths on arbitrary trees: never throws; missing paths
    # yield the default
    sentinel = object()
    result = get_by_path(obj, ".".join(path_segs), sentinel)
    if len(path_segs) == 1:
        # single-segment path: must agree with plain dict lookup
        assert result is obj.get(path_segs[0], sentinel)


@given(
    st.integers(1, 8),
    st.integers(1, 8),
    st.sampled_from([1, 2, 3, 4]),
    st.randoms(use_true_random=False),
)
@settings(max_examples=60, deadline=None)
def test_png_encode_decode_roundtrip(w, h, channels, rnd):
    from defenda_data_lake_spark.operators.multimodal import (
        _decode_png,
        _encode_png,
    )

    pixels = bytes(rnd.randrange(256) for _ in range(w * h * channels))
    out_w, out_h, out_ch, out_px = _decode_png(_encode_png(w, h, channels, pixels))
    assert (out_w, out_h, out_ch) == (w, h, channels)
    assert bytes(out_px) == pixels


@given(
    st.integers(1, 8),
    st.integers(1, 8),
    st.integers(1, 8),
    st.integers(1, 8),
    st.sampled_from([1, 3]),
    st.randoms(use_true_random=False),
)
@settings(max_examples=60, deadline=None)
def test_resize_nearest_dims_and_identity(w, h, out_w, out_h, channels, rnd):
    from defenda_data_lake_spark.operators.multimodal import _resize_nearest

    pixels = bytes(rnd.randrange(256) for _ in range(w * h * channels))
    out = _resize_nearest(w, h, channels, pixels, out_w, out_h)
    assert len(out) == out_w * out_h * channels
    if (out_w, out_h) == (w, h):
        assert out == pixels  # identity resize is exact


@given(
    st.lists(
        st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=32),
        min_size=1,
        max_size=60,
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=40, deadline=None)
def test_bpe_learner_invariants(words, rnd):
    """Properties of the pure BPE core on arbitrary corpora: (a) the
    learned merge table is invariant under permutation of the word
    list (tie-breaks are a total order over counts, not list order);
    (b) tokenize_py output always reassembles to the word with no
    empty tokens; (c) token count never exceeds word length."""
    from defenda_data_lake_spark.operators.bpe import learn_bpe, tokenize_py

    wc = {}
    for w in words:
        wc[w] = wc.get(w, 0) + 1
    top = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
    merges = learn_bpe(top)
    shuffled = list(top)
    rnd.shuffle(shuffled)
    assert learn_bpe(shuffled) == merges
    for w in wc:
        toks = tokenize_py(w, merges)
        assert "".join(toks) == w, (w, toks)
        assert all(toks), (w, toks)
        assert 1 <= len(toks) <= len(w)


@given(st.text(max_size=200))
@settings(max_examples=60, deadline=None)
def test_full_token_accounting_py_total_covers_everything(text):
    """The byte-fallback contract on arbitrary unicode text: totals
    are consistent, non-negative, and every non-whitespace char of the
    lowered text is accounted in exactly one bucket (BPE words,
    oversized runs, or fallback bytes >= one per char)."""
    import re

    from defenda_data_lake_spark.operators.bpe import (
        full_token_accounting_py,
        learn_bpe,
    )

    merges = learn_bpe([("the", 5), ("hello", 3)])
    acc = full_token_accounting_py(text, merges)
    assert all(v >= 0 for v in acc.values())
    assert (
        acc["n_tokens_total"]
        == acc["n_tokens_bpe"] + acc["n_long_chars"] + acc["n_bytes_other"]
    )
    assert acc["n_vocab_words"] <= acc["n_words"] <= acc["n_tokens_bpe"] or (
        acc["n_words"] == 0 and acc["n_tokens_bpe"] == 0
    )
    lowered = text.lower()
    qual_chars = sum(
        len(w)
        for w in re.split("[^a-z]+", lowered)
        if w and len(w) <= 32
    )
    non_ws = len(re.sub("[ \t\n\r\f]", "", lowered))
    # the lowered non-whitespace chars decompose exactly into
    # qualifying-word chars, oversized-run chars, and everything else;
    # the fallback bucket must cover that remainder at >= 1 byte/char
    assert acc["n_long_chars"] + qual_chars <= non_ws
    other_chars = non_ws - qual_chars - acc["n_long_chars"]
    assert acc["n_bytes_other"] >= other_chars  # bytes >= chars (UTF-8)
