"""Source-layer tests: envelope mapping invariants + Debezium parse
(the Kafka production path, exercised on literal JSON — no broker)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from rigatoni_spark.functions import namespace_full_name
from rigatoni_spark.schema import CHANGE_EVENT_SCHEMA, ENVELOPE_COLUMNS
from rigatoni_spark.sources.change_events import as_change_events
from rigatoni_spark.sources.kafka import parse_debezium_value
from tests.conftest import SF_DIR


class TestEnvelopeMapping:
    def test_update_lookup_controls_full_document(self, spark, change_events):
        from rigatoni_spark.tables import load_table

        raw = load_table(spark, SF_DIR, "events")
        no_lookup = as_change_events(raw, update_lookup=False)
        # updates carry updated_fields but NO full_document (stream.rs:477-481)
        upd = no_lookup.filter("operation = 'update'")
        assert upd.filter("full_document IS NOT NULL").count() == 0
        assert upd.filter("updated_fields IS NULL").count() == 0
        # with lookup, full_document is populated
        upd2 = change_events.filter("operation = 'update'")
        assert upd2.filter("full_document IS NULL").count() == 0

    def test_deletes_carry_key_only(self, change_events):
        d = change_events.filter("operation = 'delete'")
        assert d.filter("full_document IS NOT NULL").count() == 0
        assert d.filter("document_key IS NULL").count() == 0

    def test_envelope_columns_subset_of_schema(self, change_events):
        schema_cols = [f.name for f in CHANGE_EVENT_SCHEMA.fields]
        assert set(ENVELOPE_COLUMNS) <= set(schema_cols)
        assert set(ENVELOPE_COLUMNS) <= set(change_events.columns)

    def test_namespace_full_name(self, change_events):
        row = change_events.select(namespace_full_name().alias("ns")).first()
        assert row["ns"].startswith("app.c")


class TestPreImagesAndUpdateDescription:
    """S5 pre-images + UpdateDescription completion (event.rs:206-230,
    stream.rs:479-501). Testdata props are single-key, so the
    interesting key-diff cases run on crafted multi-key payloads."""

    @staticmethod
    def _raw(spark, rows):
        from datetime import datetime

        return spark.createDataFrame(
            [
                (i, datetime(2024, 1, 1, 0, i), uid, et, 1.0, props)
                for i, (uid, et, props) in enumerate(rows)
            ],
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
        )

    def test_pre_image_is_previous_state(self, spark):
        raw = self._raw(
            spark,
            [
                (1, "signup", '{"a":1,"b":2}'),
                (1, "click", '{"a":9}'),
                (1, "error", '{"x":0}'),
                (2, "click", '{"z":1}'),  # no prior state for user 2
            ],
        )
        out = {
            r["event_id"]: r["full_document_before_change"]
            for r in as_change_events(raw, before_images="whenAvailable").collect()
        }
        assert out[0] is None  # insert: no pre-image by definition
        assert out[1] == '{"a":1,"b":2}'
        assert out[2] == '{"a":9}'
        assert out[3] is None  # whenAvailable: NULL, no error

    def test_pre_image_required_errors_when_missing(self, spark):
        import pytest
        from pyspark.errors.exceptions.captured import SparkRuntimeException

        raw = self._raw(spark, [(2, "click", '{"z":1}')])
        df = as_change_events(raw, before_images="required")
        with pytest.raises(SparkRuntimeException):
            df.collect()

    def test_removed_fields_key_diff(self, spark):
        raw = self._raw(
            spark,
            [
                (1, "signup", '{"a":1,"b":2,"c":3}'),
                (1, "click", '{"b":5}'),  # a and c removed
                (2, "click", '{"z":1}'),  # no prior state -> NULL
            ],
        )
        rows = {
            r["event_id"]: r
            for r in as_change_events(raw, update_description=True).collect()
        }
        assert rows[1]["removed_fields"] == ["a", "c"]
        assert rows[1]["truncated_arrays"] == []
        assert rows[2]["removed_fields"] is None
        assert rows[0]["removed_fields"] is None  # not an update

    def test_streaming_rejects_extended_envelope(self, spark, tmp_path):
        from rigatoni_spark.sources.change_events import (
            read_change_events_stream,
        )
        import pytest

        # the plain envelope mapper can't do streaming pre-images; the
        # error must point at the stateful variant that can
        with pytest.raises(ValueError, match="as_change_events_stateful"):
            sdf = read_change_events_stream(spark, str(tmp_path))
            as_change_events(sdf, before_images="whenAvailable")

    def test_invalid_mode_rejected(self, spark, change_events):
        import pytest

        raw = self._raw(spark, [(1, "signup", "{}")])
        with pytest.raises(ValueError, match="before_images"):
            as_change_events(raw, before_images="sometimes")


class TestDebeziumParse:
    def _event(self, **over):
        base = {
            "op": "c",
            "source": {"db": "shop", "collection": "orders", "ts_ms": 1706000000123},
            "documentKey": {"_id": 42},
            "after": {"_id": 42, "total": 9.5},
            "updateDescription": None,
        }
        base.update(over)
        return json.dumps(base)

    def test_insert_parses(self, spark):
        df = spark.createDataFrame([(self._event(),)], ["value"])
        out = df.select(parse_debezium_value(F.col("value"))).collect()[0]
        assert out["operation"] == "insert"
        assert out["database"] == "shop"
        assert out["collection"] == "orders"
        assert json.loads(out["document_key"]) == {"_id": 42}
        assert out["cluster_time"].year == 2024

    def test_update_with_description(self, spark):
        ev = self._event(
            op="u",
            updateDescription={
                "updatedFields": {"total": 11.0},
                "removedFields": ["note"],
            },
        )
        out = (
            spark.createDataFrame([(ev,)], ["value"])
            .select(parse_debezium_value(F.col("value")))
            .collect()[0]
        )
        assert out["operation"] == "update"
        assert json.loads(out["updated_fields"]) == {"total": 11.0}
        assert out["removed_fields"] == ["note"]

    def test_unknown_op_preserved(self, spark):
        # forward compatibility (event.rs:456-465)
        out = (
            spark.createDataFrame([(self._event(op="t"),)], ["value"])
            .select(parse_debezium_value(F.col("value")))
            .collect()[0]
        )
        assert out["operation"] == "t"

    def test_delete_has_no_after(self, spark):
        out = (
            spark.createDataFrame([(self._event(op="d", after=None),)], ["value"])
            .select(parse_debezium_value(F.col("value")))
            .collect()[0]
        )
        assert out["operation"] == "delete"
        assert out["full_document"] is None


class TestEnvelopeSerde:
    """Serde round-trips — the reference's event_tests.rs JSON
    round-trip layer (event_tests.rs:138,223) on the Spark envelope."""

    def test_envelope_json_roundtrip_identity(self, spark, change_events):
        # micros-precision timestampFormat: the default SSS truncates to
        # milliseconds and breaks the identity
        opts = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"}
        sample = change_events.limit(200)
        back = (
            sample.select(F.to_json(F.struct(*sample.columns), opts).alias("j"))
            .select(F.from_json("j", sample.schema, opts).alias("s"))
            .select("s.*")
        )
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, sample.collect())
        )

    def test_truncated_arrays_shape(self, spark):
        """TruncatedArray {field, new_size} (event.rs:222-230) survives
        the full envelope schema round-trip."""
        import json

        from pyspark.sql import Row

        from rigatoni_spark.schema import CHANGE_EVENT_SCHEMA

        from datetime import datetime

        row = Row(
            operation="update",
            database="app",
            collection="c0",
            cluster_time=datetime(2024, 1, 1, 0, 0, 0),
            document_key='{"_id":1}',
            full_document=None,
            updated_fields='{"a":1}',
            removed_fields=["b"],
            truncated_arrays=[Row(field="tags", new_size=3)],
            resume_token="7",
        )
        df = spark.createDataFrame([row], CHANGE_EVENT_SCHEMA)
        j = df.select(F.to_json(F.struct(*df.columns)).alias("j")).first()["j"]
        parsed = json.loads(j)
        assert parsed["truncated_arrays"] == [{"field": "tags", "new_size": 3}]
        back = (
            spark.createDataFrame([(j,)], ["j"])
            .select(F.from_json("j", CHANGE_EVENT_SCHEMA).alias("s"))
            .select("s.*")
            .first()
        )
        assert back["truncated_arrays"][0]["field"] == "tags"
        assert back["removed_fields"] == ["b"]
