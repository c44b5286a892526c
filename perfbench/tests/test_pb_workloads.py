from report import control_drifted, raw_end_to_end
from workloads import ITERATIONS, VOCAB, Outcome, synth_documents


def test_documents_have_the_sf01_shape():
    docs = synth_documents(2000, seed=7)
    assert [d for d, _ in docs] == list(range(2000))
    assert synth_documents(2000, seed=7) == docs and synth_documents(2000, seed=8) != docs
    dups = [t for _, t in docs if t.endswith(" dup")]
    assert len(dups) == 2000 // 20
    texts = {t for _, t in docs}
    # a near-duplicate is another document's text plus " dup"; as in sf0.1
    # (243 of 250), a few sources were themselves turned into duplicates later
    found = sum(t[: -len(" dup")] in texts for t in dups)
    assert found >= 0.9 * len(dups)
    words = [len(t.split()) for _, t in docs if not t.endswith(" dup")]
    assert min(words) == 10 and max(words) == 99
    assert {w for _, t in docs for w in t.split()} == set(VOCAB) | {"dup"}
    assert len(VOCAB) == 30


def test_seconds_only_caps_the_fixed_iterations():
    out = Outcome()
    assert out.within(30) and not out.capped
    out.write_s, out.read_s = [10.0], [12.0]
    assert out.within(30)
    out.write_s.append(10.0)
    assert not out.within(30) and out.capped
    assert ITERATIONS >= 3  # a median that leaves out the slower first iteration


def test_control_drift_is_flagged_beyond_the_bound():
    out = Outcome(control_s=[1.0, 1.2, 1.1], control_baseline_s=1.0)
    view = raw_end_to_end(out)
    assert view["control_drift"] == 1.1 and not control_drifted(view)
    out.control_s = [1.3, 1.4, 1.3]
    assert control_drifted(raw_end_to_end(out))
    out.control_s = [0.7, 0.7, 0.7]
    assert control_drifted(raw_end_to_end(out))
