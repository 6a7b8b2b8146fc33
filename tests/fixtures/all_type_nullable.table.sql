-- Full type-matrix table (74 columns): every column family of the Doris
-- type surface the DDL translator and gendata cover. See FIXTURES.md §B2.
CREATE TABLE IF NOT EXISTS `all_type_nullable` (
  `id` int NOT NULL COMMENT 'duplicate key',
  -- character types
  `col_varchar6` varchar(6) NULL,
  `col_varchar255` varchar(255) NULL,
  `col_char10` char(10) NULL,
  `col_string` string NULL,
  `col_text` text NULL,
  -- every decimal precision, nullable
  `col_decimal2_1` decimal(2,1) NULL,
  `col_decimal4_2` decimal(4,2) NULL,
  `col_decimal8_4` decimal(8,4) NULL,
  `col_decimal17_8` decimal(17,8) NULL,
  `col_decimal18_8` decimal(18,8) NULL,
  `col_decimal38_16` decimal(38,16) NULL,
  -- every decimal precision, not null
  `col_decimal2_1_nn` decimal(2,1) NOT NULL,
  `col_decimal4_2_nn` decimal(4,2) NOT NULL,
  `col_decimal8_4_nn` decimal(8,4) NOT NULL,
  `col_decimal17_8_nn` decimalv3(17,8) NOT NULL,
  `col_decimal18_8_nn` decimalv3(18,8) NOT NULL,
  `col_decimal38_16_nn` decimalv3(38,16) NOT NULL,
  -- semi-structured
  `col_json` json NULL,
  `col_jsonb` jsonb NULL,
  `col_variant` variant NULL,
  -- scalar types, nullable
  `col_date` date NULL,
  `col_datetime` datetime NULL,
  `col_int` int NULL,
  `col_bigint` bigint NULL,
  `col_float` float NULL,
  `col_double` double NULL,
  `col_boolean` boolean NULL,
  `col_tinyint` tinyint NULL,
  `col_smallint` smallint NULL,
  `col_largeint` largeint NULL,
  -- scalar types, not null
  `col_varchar255_nn` varchar(255) NOT NULL,
  `col_string_nn` string NOT NULL,
  `col_date_nn` datev2 NOT NULL,
  `col_datetime_nn` datetimev2(3) NOT NULL,
  `col_bigint_nn` bigint NOT NULL,
  `col_double_nn` double NOT NULL,
  `col_boolean_nn` boolean NOT NULL,
  -- bitmap (generated as array<bigint>)
  `col_bitmap` bitmap NOT NULL,
  -- map<T,T> over every scalar type
  `col_map_string` map<string,string> NULL,
  `col_map_varchar` map<varchar(32),varchar(32)> NULL,
  `col_map_char` map<char(8),char(8)> NULL,
  `col_map_int` map<int,int> NULL,
  `col_map_bigint` map<bigint,bigint> NULL,
  `col_map_float` map<float,float> NULL,
  `col_map_double` map<double,double> NULL,
  `col_map_boolean` map<boolean,boolean> NULL,
  `col_map_decimal2_1` map<decimal(2,1),decimal(2,1)> NULL,
  `col_map_decimal4_2` map<decimal(4,2),decimal(4,2)> NULL,
  `col_map_decimal8_4` map<decimal(8,4),decimal(8,4)> NULL,
  `col_map_decimal17_8` map<decimal(17,8),decimal(17,8)> NULL,
  `col_map_decimal18_8` map<decimal(18,8),decimal(18,8)> NULL,
  `col_map_decimal38_16` map<decimal(38,16),decimal(38,16)> NULL,
  -- array<T> over every scalar type
  `col_array_string` array<string> NULL,
  `col_array_varchar` array<varchar(32)> NULL,
  `col_array_char` array<char(8)> NULL,
  `col_array_int` array<int> NULL,
  `col_array_bigint` array<bigint> NULL,
  `col_array_float` array<float> NULL,
  `col_array_double` array<double> NULL,
  `col_array_boolean` array<boolean> NULL,
  `col_array_decimal2_1` array<decimal(2,1)> NULL,
  `col_array_decimal4_2` array<decimal(4,2)> NULL,
  `col_array_decimal8_4` array<decimal(8,4)> NULL,
  `col_array_decimal17_8` array<decimal(17,8)> NULL,
  `col_array_decimal18_8` array<decimal(18,8)> NULL,
  `col_array_decimal38_16` array<decimal(38,16)> NULL,
  -- structs and nesting
  `col_struct_bigint` struct<s_bigint:bigint> NULL,
  `col_map_array_struct` map<string,array<struct<s_int:int>>> NULL,
  `col_struct_array` struct<struct_field:array<string>> NULL,
  `col_struct_multi` struct<s_int:int,s_varchar:varchar(16),s_decimal:decimal(10,2),s_date:date,s_bool:boolean> NULL,
  `col_struct_nested` struct<s_id:bigint,s_inner:struct<s_name:string,s_tags:array<string>>> NULL,
  `col_array_struct` array<struct<s_key:string,s_value:double>> NULL,
  `col_struct_deep` struct<s_map:map<string,int>,s_outer:struct<s_mid:struct<s_leaf:decimal(18,8)>>> NULL
) ENGINE=OLAP
DUPLICATE KEY(`id`)
COMMENT 'all column types, nullable and not null'
DISTRIBUTED BY HASH(`id`) BUCKETS 1
PROPERTIES (
  "replication_allocation" = "tag.location.default: 1"
);
