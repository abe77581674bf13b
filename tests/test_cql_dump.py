"""End-to-end golden parity with the reference's cql_reader_alltypes_test:
dump each alltypes fixture to CQL and compare STRING-IDENTICAL against the
reference's inline golden text (tests/cql_reader_alltypes_test.cc:32-94;
golden constants :32-75, ported like the byte vectors elsewhere)."""

import pytest

from parquet4seastar_spark.codecs.cql_dump import parquet_to_cql

FIXTURE_DIR = "/root/reference/tests/test_data/alltypes"

BASIC_CQL = """
CREATE TABLE "parquet"("row_number" bigint PRIMARY KEY, "bool_ct" boolean, "bool_lt" boolean, "int8_ct" tinyint, "int8_lt" tinyint, "int16_ct" smallint, "int16_lt" smallint, "int32_ct" int, "int32_lt" int, "int64_ct" bigint, "int64_lt" bigint, "int96_ct" varint, "uint8_ct" smallint, "uint8_lt" smallint, "uint16_ct" int, "uint16_lt" int, "uint32_ct" bigint, "uint32_lt" bigint, "uint64_ct" varint, "uint64_lt" varint, "float_ct" float, "float_lt" float, "double_ct" double, "double_lt" double);
INSERT INTO "parquet"("row_number", "bool_ct", "bool_lt", "int8_ct", "int8_lt", "int16_ct", "int16_lt", "int32_ct", "int32_lt", "int64_ct", "int64_lt", "int96_ct", "uint8_ct", "uint8_lt", "uint16_ct", "uint16_lt", "uint32_ct", "uint32_lt", "uint64_ct", "uint64_lt", "float_ct", "float_lt", "double_ct", "double_lt") VALUES(0, false, false, -1, -1, -1, -1, -1, -1, -1, -1, -1, 255, 255, 65535, 65535, 4294967295, 4294967295, 18446744073709551615, 18446744073709551615, -1.100000e+00, -1.100000e+00, -1.111111e+00, -1.111111e+00);
INSERT INTO "parquet"("row_number", "bool_ct", "bool_lt", "int8_ct", "int8_lt", "int16_ct", "int16_lt", "int32_ct", "int32_lt", "int64_ct", "int64_lt", "int96_ct", "uint8_ct", "uint8_lt", "uint16_ct", "uint16_lt", "uint32_ct", "uint32_lt", "uint64_ct", "uint64_lt", "float_ct", "float_lt", "double_ct", "double_lt") VALUES(1, true, true, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0.000000e+00, 0.000000e+00, 0.000000e+00, 0.000000e+00);
INSERT INTO "parquet"("row_number", "bool_ct", "bool_lt", "int8_ct", "int8_lt", "int16_ct", "int16_lt", "int32_ct", "int32_lt", "int64_ct", "int64_lt", "int96_ct", "uint8_ct", "uint8_lt", "uint16_ct", "uint16_lt", "uint32_ct", "uint32_lt", "uint64_ct", "uint64_lt", "float_ct", "float_lt", "double_ct", "double_lt") VALUES(2, false, false, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1.100000e+00, 1.100000e+00, 1.111111e+00, 1.111111e+00);
"""

DATE_TIME_CQL = """
CREATE TABLE "parquet"("row_number" bigint PRIMARY KEY, "date_ct" int, "date_lt" int, "time_millis_ct" time, "time_utc_millis_lt" time, "time_nonutc_millis_lt" time, "time_micros_ct" time, "time_utc_micros_lt" time, "time_nonutc_micros_lt" time, "time_utc_nanos" time, "time_nonutc_nanos" time);
INSERT INTO "parquet"("row_number", "date_ct", "date_lt", "time_millis_ct", "time_utc_millis_lt", "time_nonutc_millis_lt", "time_micros_ct", "time_utc_micros_lt", "time_nonutc_micros_lt", "time_utc_nanos", "time_nonutc_nanos") VALUES(0, -1, -1, '00:00:00.000', '00:00:00.000', '00:00:00.000', '00:00:00.000000', '00:00:00.000000', '00:00:00.000000', '00:00:00.000000000', '00:00:00.000000000');
INSERT INTO "parquet"("row_number", "date_ct", "date_lt", "time_millis_ct", "time_utc_millis_lt", "time_nonutc_millis_lt", "time_micros_ct", "time_utc_micros_lt", "time_nonutc_micros_lt", "time_utc_nanos", "time_nonutc_nanos") VALUES(1, 0, 0, '01:01:01.000', '01:01:01.000', '01:01:01.000', '01:01:01.000000', '01:01:01.000000', '01:01:01.000000', '01:01:01.000000000', '01:01:01.000000000');
INSERT INTO "parquet"("row_number", "date_ct", "date_lt", "time_millis_ct", "time_utc_millis_lt", "time_nonutc_millis_lt", "time_micros_ct", "time_utc_micros_lt", "time_nonutc_micros_lt", "time_utc_nanos", "time_nonutc_nanos") VALUES(2, 1, 1, '02:02:02.000', '02:02:02.000', '02:02:02.000', '02:02:02.000000', '02:02:02.000000', '02:02:02.000000', '02:02:02.000000000', '02:02:02.000000000');
"""

TIMESTAMP_INTERVAL_CQL = """
CREATE TABLE "parquet"("row_number" bigint PRIMARY KEY, "timestamp_millis_ct" timestamp, "timestamp_utc_millis_lt" timestamp, "timestamp_nonutc_millis_lt" timestamp, "timestamp_micros_ct" bigint, "timestamp_utc_micros_lt" bigint, "timestamp_nonutc_micros_lt" bigint, "timestamp_utc_nanos" bigint, "timestamp_nonutc_nanos" bigint, "interval_ct" duration, "interval_lt" duration);
INSERT INTO "parquet"("row_number", "timestamp_millis_ct", "timestamp_utc_millis_lt", "timestamp_nonutc_millis_lt", "timestamp_micros_ct", "timestamp_utc_micros_lt", "timestamp_nonutc_micros_lt", "timestamp_utc_nanos", "timestamp_nonutc_nanos", "interval_ct", "interval_lt") VALUES(0, -1, -1, -1, -1, -1, -1, -1, -1, 0mo0d0ms, 0mo0d0ms);
INSERT INTO "parquet"("row_number", "timestamp_millis_ct", "timestamp_utc_millis_lt", "timestamp_nonutc_millis_lt", "timestamp_micros_ct", "timestamp_utc_micros_lt", "timestamp_nonutc_micros_lt", "timestamp_utc_nanos", "timestamp_nonutc_nanos", "interval_ct", "interval_lt") VALUES(1, 0, 0, 0, 0, 0, 0, 0, 0, 1mo1d1ms, 1mo1d1ms);
INSERT INTO "parquet"("row_number", "timestamp_millis_ct", "timestamp_utc_millis_lt", "timestamp_nonutc_millis_lt", "timestamp_micros_ct", "timestamp_utc_micros_lt", "timestamp_nonutc_micros_lt", "timestamp_utc_nanos", "timestamp_nonutc_nanos", "interval_ct", "interval_lt") VALUES(2, 1, 1, 1, 1, 1, 1, 1, 1, 2mo2d2ms, 2mo2d2ms);
"""

DECIMAL_CQL = """
CREATE TABLE "parquet"("row_number" bigint PRIMARY KEY, "decimal_int32_ct" decimal, "decimal_int32_lt" decimal, "decimal_int64_ct" decimal, "decimal_int64_lt" decimal, "decimal_byte_array_ct" decimal, "decimal_byte_array_lt" decimal, "decimal_flba_ct" decimal, "decimal_flba_lt" decimal);
INSERT INTO "parquet"("row_number", "decimal_int32_ct", "decimal_int32_lt", "decimal_int64_ct", "decimal_int64_lt", "decimal_byte_array_ct", "decimal_byte_array_lt", "decimal_flba_ct", "decimal_flba_lt") VALUES(0, -1e-5, -1e-5, -1e-10, -1e-10, -1e-2, -1e-2, -1e-5, -1e-5);
INSERT INTO "parquet"("row_number", "decimal_int32_ct", "decimal_int32_lt", "decimal_int64_ct", "decimal_int64_lt", "decimal_byte_array_ct", "decimal_byte_array_lt", "decimal_flba_ct", "decimal_flba_lt") VALUES(1, 0e-5, 0e-5, 0e-10, 0e-10, 0e-2, 0e-2, 0e-5, 0e-5);
INSERT INTO "parquet"("row_number", "decimal_int32_ct", "decimal_int32_lt", "decimal_int64_ct", "decimal_int64_lt", "decimal_byte_array_ct", "decimal_byte_array_lt", "decimal_flba_ct", "decimal_flba_lt") VALUES(2, 1e-5, 1e-5, 1e-10, 1e-10, 1e-2, 1e-2, 1e-5, 1e-5);
"""

BYTE_ARRAY_CQL = """
CREATE TABLE "parquet"("row_number" bigint PRIMARY KEY, "utf8" text, "string" text, "10_byte_array_ct" blob, "10_byte_array_lt" blob, "enum_ct" text, "enum_lt" text, "json_ct" text, "json_lt" text, "bson_ct" blob, "bson_lt" blob, "uuid" uuid);
INSERT INTO "parquet"("row_number", "utf8", "string", "10_byte_array_ct", "10_byte_array_lt", "enum_ct", "enum_lt", "json_ct", "json_lt", "bson_ct", "bson_lt", "uuid") VALUES(0, 'parquet00/', 'parquet00/', 0xFFFFFFFFFFFFFFFFFFFF, 0xFFFFFFFFFFFFFFFFFFFF, 'ENUM   000', 'ENUM   000', '{"key":"value"}', '{"key":"value"}', 0x42534F4E, 0x42534F4E, FFFFFFFF-FFFF-FFFF-FFFF-FFFFFFFFFFFF);
INSERT INTO "parquet"("row_number", "utf8", "string", "10_byte_array_ct", "10_byte_array_lt", "enum_ct", "enum_lt", "json_ct", "json_lt", "bson_ct", "bson_lt", "uuid") VALUES(1, 'parquet000', 'parquet000', 0x00000000000000000000, 0x00000000000000000000, 'ENUM   001', 'ENUM   001', '{"key":"value"}', '{"key":"value"}', 0x42534F4E, 0x42534F4E, 00000000-0000-0000-0000-000000000000);
INSERT INTO "parquet"("row_number", "utf8", "string", "10_byte_array_ct", "10_byte_array_lt", "enum_ct", "enum_lt", "json_ct", "json_lt", "bson_ct", "bson_lt", "uuid") VALUES(2, 'parquet001', 'parquet001', 0x01010101010101010101, 0x01010101010101010101, 'ENUM   002', 'ENUM   002', '{"key":"value"}', '{"key":"value"}', 0x42534F4E, 0x42534F4E, 01000000-0100-0000-0100-000001000000);
"""

COLLECTIONS_CQL = """
CREATE TABLE "parquet"("row_number" bigint PRIMARY KEY, "optional_uint32" bigint, "twice_repeated_uint16" frozen<list<int>>, "optional_undefined_null" int, "map_int32_int32" frozen<map<int, int>>, "map_key_value_bool_bool" frozen<map<boolean, boolean>>, "map_logical" frozen<map<int, int>>, "list_float" frozen<list<float>>, "list_double" frozen<list<double>>);
INSERT INTO "parquet"("row_number", "optional_uint32", "twice_repeated_uint16", "optional_undefined_null", "map_int32_int32", "map_key_value_bool_bool", "map_logical", "list_float", "list_double") VALUES(0, 4294967295, [0, 1], null, {-1: -1, 0: 0}, {false: false, false: false}, {-1: -1, 0: 0}, [-1.100000e+00, 0.000000e+00], [-1.111110e+00, 0.000000e+00]);
INSERT INTO "parquet"("row_number", "optional_uint32", "twice_repeated_uint16", "optional_undefined_null", "map_int32_int32", "map_key_value_bool_bool", "map_logical", "list_float", "list_double") VALUES(1, null, [2, 3], null, {0: 0, 1: 1}, {true: true, false: false}, {0: 0, 1: 1}, [0.000000e+00, 1.100000e+00], [0.000000e+00, 1.111110e+00]);
INSERT INTO "parquet"("row_number", "optional_uint32", "twice_repeated_uint16", "optional_undefined_null", "map_int32_int32", "map_key_value_bool_bool", "map_logical", "list_float", "list_double") VALUES(2, 1, [4, 5], null, {1: 1, 2: 2}, {false: false, true: true}, {1: 1, 2: 2}, [1.100000e+00, 2.200000e+00], [1.111110e+00, 2.222220e+00]);
"""

CASES = [
    ("basic", BASIC_CQL),
    ("collections", COLLECTIONS_CQL),
    ("decimal", DECIMAL_CQL),
    ("other", BYTE_ARRAY_CQL),
    ("time", DATE_TIME_CQL),
    ("timestamp", TIMESTAMP_INTERVAL_CQL),
]


@pytest.mark.fixture_files
@pytest.mark.parametrize("name,golden", CASES, ids=[c[0] for c in CASES])
def test_parquet_to_cql_golden(name, golden):
    out = parquet_to_cql(f"{FIXTURE_DIR}/{name}.uncompressed.plain.parquet")
    assert out == golden, f"{name} CQL dump differs from the reference golden"


# the reference's full end-to-end writer test (file_writer_test.cc:61-130):
# nested map<string,int32> (RLE_DICTIONARY+GZIP key, PLAIN+SNAPPY value) and
# list<struct<float,double>> with a NULL struct inside the list, written as
# TWO row groups, then dumped to CQL -- golden from file_writer_test.cc:120-126
FILE_WRITER_GOLDEN = """
CREATE TYPE "parquet_udt_0" ("Struct field 1" float, "Struct field 2" double);
CREATE TABLE "parquet"("row_number" bigint PRIMARY KEY, "Map" frozen<map<text, int>>, "List" frozen<list<"parquet_udt_0">>);
INSERT INTO "parquet"("row_number", "Map", "List") VALUES(0, null, null);
INSERT INTO "parquet"("row_number", "Map", "List") VALUES(1, {'key1': 1, 'key2': 1}, [null, {"Struct field 1": 1.000000e+00, "Struct field 2": 1.000000e+00}]);
"""


def test_file_writer_full_roundtrip_golden(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet4seastar_spark.codecs.pages import encode_chunk
    from parquet4seastar_spark.codecs.parquet_file import (
        MapColumn,
        StructListColumn,
        write_parquet_file,
    )

    def lchunk(vals, typ, policy="plain", compression="uncompressed", elem_nullable=None):
        arr = pa.array(vals, type=pa.list_(typ))
        return encode_chunk(
            arr, policy=policy, compression=compression, nullable=True,
            elem_nullable=elem_nullable,
        )

    def group(map_keys, map_vals, f1, f2):
        return {
            "Map": MapColumn(
                key=lchunk(map_keys, pa.string(), policy="dict", compression="gzip",
                           elem_nullable=False),
                value=lchunk(map_vals, pa.int32(), policy="plain", compression="snappy",
                             elem_nullable=False),
            ),
            "List": StructListColumn("Struct", {
                "Struct field 1": lchunk(f1, pa.float32(), elem_nullable=True),
                "Struct field 2": lchunk(f2, pa.float64(), elem_nullable=True),
            }),
        }

    # row group 1: {Map: null, List: null}; row group 2: one row with a
    # 2-entry map and [null struct, struct(1, 1)] (file_writer_test.cc:96-115)
    g1 = group([None], [None], [None], [None])
    g2 = group([["key1", "key2"]], [[1, 1]], [[None, 1.0]], [[None, 1.0]])
    path = str(tmp_path / "full.parquet")
    write_parquet_file(path, [g1, g2], [1, 1])

    assert parquet_to_cql(path) == FILE_WRITER_GOLDEN

    # independent cross-check: pyarrow reads the same nested structure
    back = pq.read_table(path).to_pylist()
    assert back == [
        {"Map": None, "List": None},
        {
            "Map": [("key1", 1), ("key2", 1)],
            "List": [None, {"Struct field 1": 1.0, "Struct field 2": 1.0}],
        },
    ]
