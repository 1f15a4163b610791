"""Reference-compatible mode CLI (SURVEY F5).

check_mode_arguments must reproduce the reference's ``check_arguments``
(/root/reference/table_recognition.py:8-18) for ALL 8 flag combinations
— including the precedence quirk where --data-preparation together with
BOTH --train and --infer validates. The transcription below is the
reference expression verbatim; equality over the full truth table is
the parity proof.
"""
from __future__ import annotations

import itertools

from table_recognition_spark.cli import ModeConfig, check_mode_arguments


def _reference_check_arguments(train, infer, data_preparation):
    # verbatim expression shape from the reference (argument attributes
    # inlined); python precedence: not X ^ Y == not (X ^ Y)
    return not (not train ^ infer) ^ data_preparation


def test_truth_table_parity():
    for t, i, d in itertools.product([False, True], repeat=3):
        assert check_mode_arguments(t, i, d) == _reference_check_arguments(
            t, i, d
        ), (t, i, d)


def test_expected_semantics():
    # exactly one of train/infer, no data-preparation → valid
    assert check_mode_arguments(True, False, False)
    assert check_mode_arguments(False, True, False)
    # data-preparation alone → valid
    assert check_mode_arguments(False, False, True)
    # nothing → invalid; both train+infer → invalid
    assert not check_mode_arguments(False, False, False)
    assert not check_mode_arguments(True, True, False)
    # the reference quirk: all three together validates
    assert check_mode_arguments(True, True, True)


def test_mode_config_reads_reference_dialect(tmp_path):
    ini = tmp_path / "config.ini"
    ini.write_text(
        "[data_preparation]\n"
        "edge_discovery       = node-visibility\n"
        "visual_features      = True\n"
        "prepared_data_dir    = ./out   # trailing comment\n"
        "[train]\n"
        "epochs               = 500\n"
        "learning_rate        = 3e-4\n"
        "model_name           = VisualNodeEdgeMLPEnding\n"
    )
    cfg = ModeConfig(str(ini))
    assert cfg.edge_discovery == "visibility"  # reference name mapped
    assert cfg.visual_features is True
    assert cfg.prepared_data_dir == "./out"
    assert cfg.epochs == 500
    assert cfg.learning_rate == 3e-4
    # missing file → defaults, runnable
    d = ModeConfig(None)
    assert d.edge_discovery == "visibility"
    assert d.visual_features is False


def test_train_mode_runs(tmp_path, capsys):
    """--train end-to-end (tiny budget via config): trains G2, names it
    and writes the weights artifact."""
    import numpy as np

    from table_recognition_spark.cli import _run_train
    from table_recognition_spark.core import gnn

    ini = tmp_path / "c.ini"
    out = tmp_path / "m.npz"
    ini.write_text(f"[train]\nepochs = 1\nmodel_path = {out}\n")
    cfg = ModeConfig(str(ini))
    # shrink further for test runtime
    from table_recognition_spark.core import train as trainer

    orig = trainer.train

    def small(**kw):
        kw.update(n_train_imgs=8, n_valid_imgs=4)
        return orig(**kw)

    trainer.train = small
    try:
        assert _run_train(cfg) == 0
    finally:
        trainer.train = orig
    assert "trained NodeEdgeMLPEnding:" in capsys.readouterr().out
    w = gnn.load_weights(str(out))
    assert all(isinstance(v, np.ndarray) for v in w.values())


def test_train_mode_trains_the_configured_model(tmp_path, capsys):
    """--train trains the model --infer would run: with
    ``visual_features = True`` the written weights are G3's, trained on
    the configured edge discovery, and the printed name is G3's."""
    from table_recognition_spark.cli import _run_train
    from table_recognition_spark.core import gnn, visual
    from table_recognition_spark.core import train as trainer

    ini = tmp_path / "c.ini"
    out = tmp_path / "m.npz"
    ini.write_text(
        "[data_preparation]\nvisual_features = True\n"
        "edge_discovery = k-nearest-neighbors\n"
        f"[train]\nepochs = 1\nmodel_path = {out}\n"
    )
    seen = {}
    orig = trainer.train

    def small(**kw):
        seen.update(kw)
        kw.update(n_train_imgs=2, n_valid_imgs=1)
        return orig(**kw)

    trainer.train = small
    try:
        assert _run_train(ModeConfig(str(ini))) == 0
    finally:
        trainer.train = orig
    assert visual.is_visual(gnn.load_weights(str(out)))
    assert seen["strategy"] == "knn"
    assert "trained VisualNodeEdgeMLPEnding:" in capsys.readouterr().out
