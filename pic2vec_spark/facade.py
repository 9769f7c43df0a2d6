"""User-facing ``ImageFeaturizer`` facade — the reference's primary API
(/root/reference/pic2vec/image_featurizer.py:93-534) re-expressed over
the Spark engine.

The engine's capabilities all exist as free functions (``image_source``,
``decode_images``, ``featurize_preloaded``, ``widen_features``,
``save_csv_compat``); this class is the ergonomic wrapper a pic2vec user
reaches for first: one object carrying a built plan plus loaded frames,
with ``load_data`` / ``featurize_preloaded_data`` / ``featurize`` /
``save_csv`` / ``clear_input`` and the reference's argument names
(``depth``/``autosample``/``downsample_size``/``model``,
``image_columns``/``image_path``/``csv_path``, ``omit_*`` CSV-naming
switches, ``clear_input(confirm=True)``).

Differences from the reference, by design:

- State is a pair of (lazy) Spark DataFrames, not a driver-side ndarray:
  ``load_data`` builds the decoded image-table plan (the reference's
  "vectorized data", image_featurizer.py:182-258) and the original
  frame; nothing materializes until an action.
- URL-mode CSVs (S6, feature_preprocessing.py:311-317) fetch
  executor-side: csv-only entries are treated as URLs (as the reference
  does), distinct URLs fetched once via an Arrow-batched mapInPandas
  stage (``sources.fetch_url_images``); fetch failures become
  missing=True zero vectors (the reference's IOError path, :318-323).
  Tests exercise ``file://`` URLs — no network exists in this sandbox.
- ``featurize``'s ``batch_processing``/``batch_size`` knobs are accepted
  and ignored: Spark's Arrow batching IS the batch loop (O3/O4), and the
  result is batch-invariant by construction (tests/test_two_step.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pic2vec_spark.plan import FeaturizerPlan


class ImageFeaturizer:
    """Drop-in-shaped facade over the Spark engine.

    >>> f = ImageFeaturizer(depth=1, autosample=True, model='squeezenet')
    >>> f.load_data('images', image_path='/data/imgs', csv_path='refs.csv')
    >>> full = f.featurize_preloaded_data(save_csv=True, omit_time=True)
    """

    def __init__(
        self,
        depth: int = 1,
        autosample: bool = False,
        downsample_size: int = 0,
        model: str = "squeezenet",
        spark: SparkSession | None = None,
    ):
        # FeaturizerPlan.build performs the reference's __init__ guards
        # (depth 1..4, supported model, pooling-constant check — M3/P8)
        self.plan = FeaturizerPlan.build(
            model=model.lower(),
            depth=depth,
            autosample=autosample,
            downsample_size=downsample_size,
        )
        self.depth = depth
        self.autosample = autosample
        self.downsample_size = downsample_size
        self.model_name = self.plan.model
        self.num_features = self.plan.num_features
        self._spark = spark
        # URL-mode fetch schemes (CSV contents are untrusted: file:// /
        # ftp:// stay off unless a caller opts in, e.g. tests)
        self.url_schemes: tuple[str, ...] = ("http", "https")
        self._reset()

    # ------------------------------------------------------------ state

    def _reset(self) -> None:
        self._grayscale = False
        self.data: DataFrame | None = None  # decoded image table
        self.df_original: DataFrame | None = None
        self.full_dataframe: DataFrame | None = None
        self.features: DataFrame | None = None
        self.csv_path = ""
        self.image_columns: list[str] = []
        self.image_path = ""

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            from pic2vec_spark.session import get_spark

            self._spark = get_spark("pic2vec_spark_facade")
        return self._spark

    # ------------------------------------------------------------- load

    def load_data(
        self,
        image_columns,
        image_path: str = "",
        csv_path: str = "",
        grayscale: bool = False,
        save_data: bool = True,
    ) -> DataFrame:
        """Build the decoded image-table plan + the original frame
        (reference load_data, image_featurizer.py:182-258).  Returns the
        decoded table (replaces the reference's ndarray return)."""
        if isinstance(image_columns, str):  # reference _input_fixer
            image_columns = [image_columns]
        if not image_path and not csv_path:
            raise ValueError(
                "Must specify either image_path or csv_path as input."
            )
        if not csv_path and len(image_columns) > 1:
            raise ValueError(
                "If building the dataframe from an image directory, the "
                "featurizer can only create a single image column. If two "
                "image columns are needed, please create a csv to pass in."
            )

        from pic2vec_spark.featurize import decode_images
        from pic2vec_spark.sources import (
            fetch_url_images,
            scan_csv,
            scan_image_directory,
        )

        if csv_path and not image_path:
            # S6 URL mode (feature_preprocessing.py:311-317): csv-only
            # entries are URLs; distinct URLs fetched once, executor-
            # side, failures -> missing=True zero vectors (the
            # reference's IOError -> zeros path, :318-323)
            original = scan_csv(self.spark, csv_path, image_columns[0])
            for col in image_columns[1:]:
                if col not in original.columns:
                    raise ValueError(
                        f"image column {col!r} missing from CSV header "
                        f"{original.columns}"
                    )
            refs = None
            for col in image_columns:
                one = original.select(F.col(col).alias("image_id"))
                refs = one if refs is None else refs.unionByName(one)
            images = fetch_url_images(
                self.spark, refs, "image_id",
                allowed_schemes=self.url_schemes,
            )
            decoded = decode_images(
                images,
                size=self.plan.target_size,
                grayscale=grayscale,
                preprocess_mode=None if grayscale else self.plan.preprocess_mode,
            )
            if save_data:
                self.data = decoded
            self._grayscale = grayscale
            self.df_original = original
            self.image_columns = image_columns
            self.csv_path = csv_path
            self.image_path = image_path
            return decoded

        images = scan_image_directory(self.spark, image_path)
        if csv_path:
            original = scan_csv(self.spark, csv_path, image_columns[0])
            for col in image_columns[1:]:
                if col not in original.columns:
                    raise ValueError(
                        f"image column {col!r} missing from CSV header "
                        f"{original.columns}"
                    )
            # S4 zero-overlap guard (sources.combined_csv_directory /
            # feature_preprocessing.py:216-222): a CSV whose refs match
            # NO directory image must error, not silently featurize
            # every row as missing=True zero vectors.
            refs = None
            for col in image_columns:
                one = original.select(F.col(col).alias("image_id"))
                refs = one if refs is None else refs.unionByName(one)
            overlap = refs.filter(
                F.col("image_id").isNotNull() & (F.col("image_id") != "")
            ).join(images.select("image_id"), "image_id")
            if overlap.limit(1).count() == 0:
                raise ValueError(
                    "Something is wrong: no images in the directory match "
                    "the CSV's image column (zero overlap)."
                )
            # only images the CSV actually references pay the
            # decode+CNN cost — a directory can hold far more files
            # than the CSV lists (the reference featurizes only listed
            # images, feature_preprocessing.py:226-239); left_semi so
            # no columns are added and dedup is implicit
            images = images.join(
                refs.filter(
                    F.col("image_id").isNotNull() & (F.col("image_id") != "")
                ).distinct(),
                "image_id",
                "left_semi",
            )
        else:
            # dir-only CREATES the frame (ref _create_df_with_image_paths):
            # one row per directory image, natural order as row_id
            original = images.select(
                F.col("image_id").alias(image_columns[0])
            ).withColumn("row_id", F.monotonically_increasing_id())

        decoded = decode_images(
            images,
            size=self.plan.target_size,
            grayscale=grayscale,
            preprocess_mode=None if grayscale else self.plan.preprocess_mode,
        )
        if save_data:
            self.data = decoded
        self._grayscale = grayscale
        self.df_original = original
        self.image_columns = image_columns
        self.csv_path = csv_path
        self.image_path = image_path
        return decoded

    # -------------------------------------------------------- featurize

    def featurize_preloaded_data(
        self,
        features_only: bool = False,
        save_features: bool = False,
        save_csv: bool = False,
        new_csv_path: str = "",
        omit_model: bool = False,
        omit_depth: bool = False,
        omit_output: bool = False,
        omit_time: bool = False,
    ) -> DataFrame:
        """CNN over the loaded data; widened features joined back onto
        the original frame by image-id key (the reference's positional
        ``pd.concat(axis=1)``, image_featurizer.py:332, made keyed)."""
        if self.data is None or self.df_original is None:
            raise IOError("Must load data into the model first. Call load_data.")
        if self._grayscale:
            # fail fast with the real reason: the CNN input layer is
            # (H, W, 3), so grayscale-decoded tensors can never be
            # featurized (the reference's grayscale flag has the same
            # incompatibility with its imagenet models); grayscale
            # load_data is for inspecting decoded luma tensors only.
            raise ValueError(
                "data was loaded with grayscale=True, which cannot feed "
                "the 3-channel CNN — reload with grayscale=False to "
                "featurize (grayscale decode is inspection-only)"
            )

        from pic2vec_spark.featurize import featurize_preloaded, zero_features_lit
        # localCheckpoint(eager): every per-column join below references
        # this subtree — without materialization the decode+CNN pass
        # would re-run once PER image column (the same hazard
        # featurize_multi_column guards against, featurize.py:507-516)
        feats = (
            featurize_preloaded(self.data, self.plan)
            .select("image_id", "missing", "features")
            .localCheckpoint(eager=True)
        )
        zero_lit = zero_features_lit(self.plan)
        n = self.num_features

        full = self.df_original
        feat_cols: list[str] = []
        for col in self.image_columns:
            per = feats.select(
                F.col("image_id").alias(col),
                F.col("missing").alias(f"{col}_missing"),
                F.col("features").alias(f"__{col}_features"),
            )
            # blank ('' or null) and unmatched refs -> missing=True +
            # the f(0) zero vector (feature_preprocessing.py:212-215)
            full = (
                full.withColumn(
                    col, F.when(F.col(col) != "", F.col(col))
                )
                .join(per, col, "left")
                .withColumn(
                    f"{col}_missing",
                    F.coalesce(F.col(f"{col}_missing"), F.lit(True)),
                )
                .withColumn(
                    f"__{col}_features",
                    F.coalesce(F.col(f"__{col}_features"), zero_lit),
                )
            )
            widened = [
                F.col(f"__{col}_features")[i].alias(f"{col}_feat_{i}")
                for i in range(n)
            ]
            full = full.select("*", *widened).drop(f"__{col}_features")
            feat_cols += [f"{col}_missing"] + [
                f"{col}_feat_{i}" for i in range(n)
            ]

        self.full_dataframe = full
        # keep row_id in the features frame so the features-only CSV can
        # be written in the SAME order as the main CSV (save_csv sorts
        # both by row_id and strips it) — without it the two files' rows
        # would not correspond
        order = ["row_id"] if "row_id" in full.columns else []
        features_df = full.select(*order, *feat_cols)
        if save_features:
            self.features = features_df
        if save_csv:
            self.save_csv(
                new_csv_path=new_csv_path,
                omit_model=omit_model,
                omit_depth=omit_depth,
                omit_output=omit_output,
                omit_time=omit_time,
                save_features=save_features,
            )
        return features_df if features_only else full

    def featurize(
        self,
        image_columns,
        image_path: str = "",
        csv_path: str = "",
        new_csv_path: str = "",
        batch_processing: bool = True,
        batch_size: int = 1000,
        save_data: bool = False,
        save_features: bool = False,
        save_csv: bool = False,
        omit_time: bool = False,
        omit_model: bool = False,
        omit_depth: bool = False,
        omit_output: bool = False,
        grayscale: bool = False,
    ) -> DataFrame:
        """One-step load + featurize (reference image_featurizer.py:362).
        ``batch_processing``/``batch_size`` are accepted for signature
        parity and ignored: Arrow batching is the batch loop, and the
        result is batch-invariant (tests/test_two_step.py)."""
        del batch_processing, batch_size  # Spark handles batching
        self.load_data(
            image_columns, image_path, csv_path, grayscale, save_data=True
        )
        try:
            return self.featurize_preloaded_data(
                save_features=save_features,
                save_csv=save_csv,
                new_csv_path=new_csv_path,
                omit_model=omit_model,
                omit_depth=omit_depth,
                omit_output=omit_output,
                omit_time=omit_time,
            )
        finally:
            if not save_data:  # reference: data kept only on request
                self.data = None

    # ------------------------------------------------------------- sink

    def save_csv(
        self,
        new_csv_path: str = "",
        omit_model: bool = False,
        omit_depth: bool = False,
        omit_output: bool = False,
        omit_time: bool = False,
        save_features: bool = False,
    ) -> str:
        """Driver-side CSV export with the reference's naming switches
        (image_featurizer.py:484-509; naming :804-857).  Fixture-scale
        sink — the 100 TB path is a snapshot commit."""
        if self.full_dataframe is None:
            raise AttributeError("No dataframe has been featurized.")
        import os

        from pic2vec_spark.sources import named_path

        if not new_csv_path:
            base = os.path.splitext(self.csv_path or "featurized_df")[0]
            name = named_path(
                f"{base}_featurized",
                self.model_name,
                self.depth,
                self.num_features,
                omit_model,
                omit_depth,
                omit_output,
                omit_time,
            )
            ext = os.path.splitext(self.csv_path)[1] or ".csv"
        else:
            name, ext = os.path.splitext(new_csv_path)
        parent = os.path.dirname(name)
        if parent:
            os.makedirs(parent, exist_ok=True)

        def _ordered(df: DataFrame):
            pdf = df.toPandas()
            if "row_id" in pdf.columns:  # internal order key, not user data
                pdf = pdf.sort_values("row_id").drop(columns="row_id")
            return pdf

        _ordered(self.full_dataframe).to_csv(f"{name}{ext}", index=False)
        if save_features and self.features is not None:
            # same row_id sort as the main CSV: the two files' rows
            # correspond 1:1, like the reference's pair of CSVs
            _ordered(self.features).to_csv(
                f"{name}_features_only{ext}", index=False
            )
        return f"{name}{ext}"

    # ------------------------------------------------------------ reset

    def clear_input(self, confirm: bool = False) -> None:
        """Reference clear_input (image_featurizer.py:512-534): requires
        confirm=True; resets all loaded state (plans are lazy, so there
        is nothing else to free)."""
        if not confirm:
            raise ValueError(
                "If you're sure you would like to clear the inputs of "
                "this model, rerun the function with the following "
                "argument: clear_input(confirm=True). This operation "
                "cannot be reversed."
            )
        self._reset()
