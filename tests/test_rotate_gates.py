"""tools/rotate_gates.py: the driver-coverage rotation — never-checked
gates lead, then gates whose CODE changed since their last driver row,
then everything ascending by most recent driver CORRECTNESS round."""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))


def test_rotated_ordering_rules():
    from rotate_gates import rotated

    keys = ["a", "b", "c", "d", "e"]
    seen = {"a": 4, "b": 3, "d": 4}  # c, e never checked
    out = rotated(keys, seen)
    # never-checked first (original relative order), then r3, then r4
    assert out == ["c", "e", "b", "a", "d"]


def test_code_stale_outranks_artifact_age():
    """A gate whose implementation changed since its driver row must
    lead every fresh gate regardless of how old their rows are — but
    never a gate with no row at all."""
    from rotate_gates import rotated

    keys = ["a", "b", "c", "d"]
    seen = {"a": 5, "b": 3, "c": 4}  # d never checked
    out = rotated(keys, seen, stale={"a"})
    assert out == ["d", "a", "b", "c"]


def test_gate_closure_tracks_function_helpers_imports_and_oracles():
    """The staleness fingerprint must move when (and only when) the
    gate's own code moves: its function, a reached helper, a module it
    imports from, or its oracle registration — NOT an unrelated gate."""
    from rotate_gates import gate_closure

    src = '''\
from leann_rs_spark.operators.dedup import minhash_lsh
from leann_rs_spark.functions.vector import duckdb_dot

_ORACLES: dict[str, str] = {
    "g1": f"SELECT {duckdb_dot('a', 'b')}",
}


def _helper(x):
    return x + 1


def g1(spark, sf_dir):
    return _helper(minhash_lsh(spark))


def g2(spark, sf_dir):
    return spark


def _register():
    _ORACLES["g2"] = "SELECT 2"


def queries():
    return {
        "g1": g1,
        "g2": g2,
    }
'''
    c = gate_closure(src)
    sha1, mods1 = c["g1"]
    sha2, mods2 = c["g2"]
    assert "leann_rs_spark.operators.dedup.minhash_lsh" in mods1
    assert mods2 == set()  # g2 touches no package module
    # edit the helper only: g1's sha moves, g2's does not
    c2 = gate_closure(src.replace("return x + 1", "return x + 2"))
    assert c2["g1"][0] != sha1 and c2["g2"][0] == sha2
    # edit g2's oracle registrar only: g2 moves, g1 does not
    c3 = gate_closure(src.replace("SELECT 2", "SELECT 22"))
    assert c3["g2"][0] != sha2 and c3["g1"][0] == sha1
    # edit g1's dict-literal oracle only: g1 moves, g2 does not
    c4 = gate_closure(src.replace("'a', 'b'", "'a', 'c'"))
    assert c4["g1"][0] != sha1 and c4["g2"][0] == sha2


def test_current_entry_ordering_is_fresh():
    """The committed queries() ordering must match the artifacts AND
    the working tree's code staleness — a stale rotation silently
    starves driver coverage (the round-4 verdict's #1 finding; the
    round-5 verdict added the code-staleness weighting)."""
    from rotate_gates import code_stale, current_keys, last_seen, rotated

    src = open(os.path.join(ROOT, "__spark_entry__.py")).read()
    keys = current_keys(src)
    assert len(keys) >= 129
    seen = last_seen()
    assert keys == rotated(keys, seen, code_stale(keys, seen))


def test_every_query_key_extracted():
    import __spark_entry__ as e
    from rotate_gates import current_keys

    src = open(os.path.join(ROOT, "__spark_entry__.py")).read()
    assert current_keys(src) == list(e.queries().keys())


def _fake_tree(files):
    def read(rel):
        return files.get(rel)
    return read


_ENTRY_TWO_GATES = '''\
def g1(spark, sf_dir):
    from leann_rs_spark.operators.alpha import fa
    return fa(spark)


def g2(spark, sf_dir):
    from leann_rs_spark.operators.alpha import fb
    return fb(spark)


def queries():
    return {
        "g1": g1,
        "g2": g2,
    }
'''

_ALPHA = '''\
TUNE = 3

def _shared(x):
    return x + TUNE

def fa(s):
    return _shared(1)

def fb(s):
    return _shared(2)
'''


def _fps(entry_src, files):
    from rotate_gates import _fingerprint, gate_closure

    closure = gate_closure(entry_src)
    read = _fake_tree(files)
    return {
        g: _fingerprint(g, closure, read, {}, {}) for g in ("g1", "g2")
    }


def test_fingerprint_tracks_function_local_imports():
    """Gates import their operators INSIDE the function body — the
    closure must still reach the module (the pre-r7 blind spot)."""
    from rotate_gates import gate_closure

    _, mods = gate_closure(_ENTRY_TWO_GATES)["g1"]
    assert "leann_rs_spark.operators.alpha.fa" in mods


def test_fingerprint_blast_radius_is_function_level():
    """Editing ONE operator function re-flags only the gates that
    reach it; editing a shared helper or a module constant re-flags
    both (VERDICT r6 task 5)."""
    rel = "leann_rs_spark/operators/alpha.py"
    base = _fps(_ENTRY_TWO_GATES, {rel: _ALPHA})
    assert base["g1"] and base["g2"] and base["g1"] != base["g2"]

    edited_fa = _fps(
        _ENTRY_TWO_GATES, {rel: _ALPHA.replace("_shared(1)", "_shared(11)")}
    )
    assert edited_fa["g1"] != base["g1"]
    assert edited_fa["g2"] == base["g2"]  # fb untouched

    edited_shared = _fps(
        _ENTRY_TWO_GATES, {rel: _ALPHA.replace("x + TUNE", "x - TUNE")}
    )
    assert edited_shared["g1"] != base["g1"]
    assert edited_shared["g2"] != base["g2"]

    edited_const = _fps(
        _ENTRY_TWO_GATES, {rel: _ALPHA.replace("TUNE = 3", "TUNE = 4")}
    )
    assert edited_const["g1"] != base["g1"]  # preamble is shared state
    assert edited_const["g2"] != base["g2"]


def test_fingerprint_follows_cross_module_symbols():
    """fa calls a function imported from a second module: editing THAT
    function re-flags g1; editing an unrelated function in the second
    module does not."""
    alpha = '''\
from leann_rs_spark.operators.beta import helper

def fa(s):
    return helper(s)

def fb(s):
    return 2
'''
    beta = '''\
def helper(s):
    return s

def unrelated(s):
    return 0
'''
    files = {
        "leann_rs_spark/operators/alpha.py": alpha,
        "leann_rs_spark/operators/beta.py": beta,
    }
    base = _fps(_ENTRY_TWO_GATES, files)
    files2 = dict(files)
    files2["leann_rs_spark/operators/beta.py"] = beta.replace(
        "return s", "return s + 1"
    )
    moved = _fps(_ENTRY_TWO_GATES, files2)
    assert moved["g1"] != base["g1"] and moved["g2"] == base["g2"]
    files3 = dict(files)
    files3["leann_rs_spark/operators/beta.py"] = beta.replace(
        "return 0", "return 9"
    )
    same = _fps(_ENTRY_TWO_GATES, files3)
    assert same["g1"] == base["g1"] and same["g2"] == base["g2"]


def test_fingerprint_factory_assignment_chases_the_factory():
    """`fa = _make()` is a top-level simple assignment: the walker
    hashes the assignment and chases `_make` (everything fa's behavior
    can depend on flows through referenced names) — editing the
    factory re-flags g1, an unrelated def does not (this was a
    whole-file fallback before the r8 constant tightening)."""
    alpha = '''\
def _make():
    def fa(s):
        return s
    return fa

fa = _make()

def fb(s):
    return 2
'''
    rel = "leann_rs_spark/operators/alpha.py"
    base = _fps(_ENTRY_TWO_GATES, {rel: alpha})
    factory = _fps(
        _ENTRY_TWO_GATES, {rel: alpha.replace("return s", "return s + 1")}
    )
    assert factory["g1"] != base["g1"]
    other = _fps(
        _ENTRY_TWO_GATES, {rel: alpha.replace("return 2", "return 3")}
    )
    assert other["g1"] == base["g1"] and other["g2"] != base["g2"]


def test_fingerprint_unresolvable_symbol_falls_back_to_whole_file():
    """A symbol the walker cannot locate AT ALL (exec-defined, no
    top-level binding) widens to whole-file hashing — under-flagging
    is the unsafe direction."""
    alpha = '''\
exec("def fa(s): return s")

def fb(s):
    return 2
'''
    rel = "leann_rs_spark/operators/alpha.py"
    base = _fps(_ENTRY_TWO_GATES, {rel: alpha})
    moved = _fps(
        _ENTRY_TWO_GATES, {rel: alpha.replace("return 2", "return 3")}
    )
    # fa has no top-level binding: whole-file fallback means ANY
    # module edit (even fb's) re-flags g1
    assert moved["g1"] != base["g1"]


def test_fingerprint_ignores_unreferenced_constants_and_imports():
    """r7 blast-radius tightening: 19 of 90 stale flags were
    preamble-only churn. An UNREFERENCED module constant (or a new
    top-level import) must not re-flag gates whose closures never read
    it; a referenced constant still does (the TUNE test above), and
    non-assignment module-level code always hashes."""
    alpha = '''\
OTHER = 7
USED = 3

def fa(s):
    return USED

def fb(s):
    return 2
'''
    rel = "leann_rs_spark/operators/alpha.py"
    base = _fps(_ENTRY_TWO_GATES, {rel: alpha})

    # unreferenced constant edit: neither gate re-flags
    bumped = _fps(_ENTRY_TWO_GATES, {rel: alpha.replace("OTHER = 7", "OTHER = 8")})
    assert bumped == base

    # referenced constant edit: only fa's gate re-flags
    used = _fps(_ENTRY_TWO_GATES, {rel: alpha.replace("USED = 3", "USED = 4")})
    assert used["g1"] != base["g1"] and used["g2"] == base["g2"]

    # adding an unrelated top-level import: no re-flag
    imported = _fps(_ENTRY_TWO_GATES, {rel: "import json\n" + alpha})
    assert imported == base

    # module-level CODE (non-assignment) always hashes
    coded = _fps(_ENTRY_TWO_GATES, {rel: alpha + "\nprint('x')\n"})
    assert coded["g1"] != base["g1"] and coded["g2"] != base["g2"]


def test_fingerprint_follows_constant_chains():
    """A constant whose value references another constant or a def
    pulls those in transitively (DERIVED = BASE * 2 must re-flag when
    BASE moves)."""
    alpha = '''\
BASE = 2
DERIVED = BASE * 2

def fa(s):
    return DERIVED

def fb(s):
    return 2
'''
    rel = "leann_rs_spark/operators/alpha.py"
    base = _fps(_ENTRY_TWO_GATES, {rel: alpha})
    moved = _fps(_ENTRY_TWO_GATES, {rel: alpha.replace("BASE = 2", "BASE = 5")})
    assert moved["g1"] != base["g1"] and moved["g2"] == base["g2"]
