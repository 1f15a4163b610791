"""Reference-compatible mode CLI (SURVEY F5 — full parity).

The reference's entry point (``/root/reference/table_recognition.py:8-45``)
selects a mode with three boolean flags validated by an XOR chain and
reads an INI config (``table_recognition/config.py``). This module
re-expresses that surface over the Spark engine:

- :func:`check_mode_arguments` — the reference's ``check_arguments``
  TRUTH TABLE, frozen bug-for-bug: with python precedence the expression
  ``not (not train ^ infer) ^ data_preparation`` parses as
  ``not ((not (train ^ infer)) ^ dp)``, i.e. *valid ⇔ (train == infer)
  == dp*. Consequences (pinned by tests/test_cli.py):
  exactly one of --train/--infer (no --data-preparation) → valid;
  --data-preparation alone → valid; and the quirk: --data-preparation
  WITH BOTH --train AND --infer is also accepted (the reference then
  runs data preparation and ignores the other two — reproduced).
- :class:`ModeConfig` — configparser reader for the reference's
  config.ini dialect (sections ``data_preparation``/``train``/``infer``;
  the keys the Spark engine consumes: ``edge_discovery``,
  ``visual_features``, ``epochs``, ``learning_rate``, paths).
- :func:`run_mode` — dispatch: data-preparation → seeded fixture corpus
  written as parquet (+ optional graph visualizations, reference
  data_preparation.py); train → the numpy training loop (core/train.py)
  on the model (``visual_features``: G3, else G2) and the graphs
  (``edge_discovery``) that infer uses; infer → one ``extract_flat`` run (no checkpointing) over the prepared
  ``docs``/``media`` parquet, or the fixture corpus when there is none,
  printing its output span count.
"""

from __future__ import annotations

import argparse
import configparser
import os


def check_mode_arguments(train: bool, infer: bool,
                         data_preparation: bool) -> bool:
    """Frozen transcription of reference ``check_arguments`` semantics
    (valid ⇔ ``(train == infer) == data_preparation`` — see module
    docstring for the precedence analysis)."""
    return not (not (train ^ infer)) ^ data_preparation


class ModeConfig:
    """INI config in the reference's dialect. Missing file/section/key
    falls back to the engine's defaults so the CLI is runnable without a
    config file (the reference defaults to ./config.ini and fails hard;
    we keep the default path but degrade gracefully)."""

    def __init__(self, path: str | None):
        self._cp = configparser.ConfigParser(inline_comment_prefixes=("#",))
        if path and os.path.exists(path):
            self._cp.read(path)

    def get(self, section: str, key: str, default=None):
        try:
            return self._cp.get(section, key).strip()
        except (configparser.NoSectionError, configparser.NoOptionError):
            return default

    # the keys the Spark engine consumes
    @property
    def edge_discovery(self) -> str:
        v = self.get("data_preparation", "edge_discovery", "node-visibility")
        return {"node-visibility": "visibility", "k-nearest-neighbors": "knn"}.get(
            v, v
        )

    @property
    def visual_features(self) -> bool:
        return (
            str(self.get("data_preparation", "visual_features", "False")).lower()
            == "true"
        )

    @property
    def epochs(self) -> int:
        # reference config.ini ships 500; the CLI default keeps the mode
        # demonstrably runnable without a config file
        return int(self.get("train", "epochs", "5"))

    @property
    def learning_rate(self) -> float:
        return float(self.get("train", "learning_rate", "3e-4"))

    @property
    def model_path(self) -> str:
        return self.get("train", "model_path", "./model_trained.npz")

    @property
    def prepared_data_dir(self) -> str:
        return self.get(
            "data_preparation", "prepared_data_dir", "./prepared_data"
        )

    @property
    def visualize_dir(self) -> str | None:
        return self.get("data_preparation", "visualize_dir", None)

    @property
    def infer_input_dir(self) -> str | None:
        return self.get("infer", "input_data_dir", None)


def add_mode_arguments(ap: argparse.ArgumentParser) -> None:
    ap.add_argument("--train", action="store_true",
                    help="train the model (--config-file optional)")
    ap.add_argument("--infer", action="store_true",
                    help="run table recognition over the input corpus")
    ap.add_argument("--data-preparation", action="store_true",
                    help="prepare a dataset for training")
    ap.add_argument("--config-file", default="./config.ini",
                    help="INI config (reference dialect)")


def run_mode(args) -> int:
    """Dispatch in the reference's priority order (data_preparation,
    then train, then infer — table_recognition.py:42-45)."""
    if not check_mode_arguments(args.train, args.infer,
                                args.data_preparation):
        raise SystemExit(
            "ERROR: Either --train, --infer or --data-preparation "
            "must be specified."
        )
    cfg = ModeConfig(args.config_file)
    if args.data_preparation:
        return _run_data_preparation(cfg)
    if args.train:
        return _run_train(cfg)
    return _run_infer(cfg)


def _run_data_preparation(cfg: ModeConfig) -> int:
    from .fixtures.generate import corpus_to_spark, make_corpus
    from .session import get_spark

    spark = get_spark("data_preparation")
    docs, media, gt = make_corpus(64, 24, seed=42)
    docs_df, media_df, gt_df = corpus_to_spark(spark, docs, media, gt)
    out = cfg.prepared_data_dir
    docs_df.write.mode("overwrite").parquet(os.path.join(out, "docs.parquet"))
    media_df.write.mode("overwrite").parquet(
        os.path.join(out, "media.parquet")
    )
    gt_df.write.mode("overwrite").parquet(os.path.join(out, "gt.parquet"))
    if cfg.visualize_dir:
        from .operators.visualize import visualize_sink

        visualize_sink(media_df).write.mode("overwrite").parquet(
            os.path.join(cfg.visualize_dir, "overlays.parquet")
        )
    print(f"prepared corpus in {out}")
    return 0


def _run_train(cfg: ModeConfig) -> int:
    from .core import gnn, visual
    from .core import train as trainer

    # the model and graphs --infer runs: G3 with visual_features, else G2
    init = visual.init_weights if cfg.visual_features else gnn.init_weights
    best_w, history = trainer.train(
        weights=init(42),
        n_train_imgs=64,
        n_valid_imgs=16,
        epochs=cfg.epochs,
        lr=cfg.learning_rate,
        seed=42,
        strategy=cfg.edge_discovery,
    )
    gnn.save_weights(best_w, cfg.model_path)
    acc = history[-1]["valid_edge_acc"] if history else None
    name = (
        "VisualNodeEdgeMLPEnding" if visual.is_visual(best_w)
        else "NodeEdgeMLPEnding"
    )
    print(f"trained {name}: final val acc {acc} -> {cfg.model_path}")
    return 0


def _run_infer(cfg: ModeConfig) -> int:
    from .core import gnn, visual
    from .pipeline.flagship import fixture_media, interleaved_docs
    from .pipeline.extract import extract_flat
    from .session import get_spark

    spark = get_spark("infer")
    weights = (
        visual.default_weights() if cfg.visual_features
        else gnn.default_weights()
    )
    src = cfg.infer_input_dir
    if src and os.path.exists(os.path.join(src, "docs.parquet")):
        docs = spark.read.parquet(os.path.join(src, "docs.parquet"))
        media = spark.read.parquet(os.path.join(src, "media.parquet"))
    else:
        docs = interleaved_docs(spark, "/root/testdata/sf0.001")
        media = fixture_media(spark)
    n = extract_flat(
        docs, media, weights, strategy=cfg.edge_discovery
    ).count()
    print(f"infer: {n} output spans")
    return 0
