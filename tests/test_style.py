"""OGR feature style parser (ogr/ogrfeaturestyle.cpp grammar)."""

from gdal_spark.functions.style import (parse_style_string, split_unit,
                                        style_param)


class TestGrammar:
    def test_basic_pen(self):
        got = parse_style_string("PEN(c:#FF0000,w:5px)")
        assert got == [("PEN", {"c": "#FF0000", "w": "5px"})]

    def test_multi_tool_parts(self):
        got = parse_style_string(
            "PEN(c:#123456,w:2px);BRUSH(fc:#0000FF,bc:#FFFFFF)")
        assert [t for t, _ in got] == ["PEN", "BRUSH"]
        assert got[1][1] == {"fc": "#0000FF", "bc": "#FFFFFF"}

    def test_quoted_value_with_separators(self):
        # quotes protect ';', ',' and ':' (CSLT_HONOURSTRINGS)
        got = parse_style_string(
            'LABEL(f:"Arial, Helvetica",t:"a;b:c,d",s:10pt)')
        assert got == [("LABEL", {"f": "Arial, Helvetica",
                                  "t": "a;b:c,d", "s": "10pt"})]

    def test_escaped_quotes_in_text(self):
        got = parse_style_string('LABEL(t:"say \\"hi\\"")')
        assert got[0][1]["t"] == 'say "hi"'

    def test_boolean_param_without_value_is_1(self):
        got = parse_style_string("LABEL(t:x,bo,it)")
        assert got[0][1] == {"t": "x", "bo": "1", "it": "1"}

    def test_unknown_tokens_and_tools_skipped(self):
        got = parse_style_string("PEN(c:#000,zzz:9);WIBBLE(a:1);BRUSH(fc:y)")
        assert got == [("PEN", {"c": "#000"}), ("BRUSH", {"fc": "y"})]

    def test_empty_and_none(self):
        assert parse_style_string("") == []
        assert parse_style_string(";") == []

    def test_symbol_full_registry(self):
        got = parse_style_string(
            'SYMBOL(id:"sym-7",a:45,c:#AA00AA,s:6g,dx:1mm,dy:2mm,'
            "ds:3px,dp:4px,di:5px,l:2,f:Wingdings,o:#001122)")
        assert got[0][0] == "SYMBOL"
        assert len(got[0][1]) == 12

    def test_units(self):
        assert split_unit("5px") == (5.0, "px")
        assert split_unit("12pt") == (12.0, "pt")
        assert split_unit("3.5mm") == (3.5, "mm")
        assert split_unit("2cm") == (2.0, "cm")
        assert split_unit("1in") == (1.0, "in")
        assert split_unit("10g") == (10.0, "g")
        assert split_unit("7") == (7.0, "mm")  # unsuffixed -> MM default


class TestSparkSurface:
    def test_style_param_and_special_field(self, spark):
        from pyspark.sql import functions as F

        from gdal_spark.sql.execute_sql import with_special_fields

        df = spark.createDataFrame(
            [(1, 'PEN(c:#FF0000,w:5px);LABEL(t:"a;b")'),
             (2, "BRUSH(fc:#00FF00)"), (3, None)],
            "id int, style string")
        got = df.select(
            "id",
            style_param("style", "PEN", "w").alias("w"),
            style_param("style", "LABEL", "t").alias("t"),
        ).orderBy("id").collect()
        assert [(r["w"], r["t"]) for r in got] == [
            ("5px", "a;b"), (None, None), (None, None)]

        sf = with_special_fields(df, geom_col=None)
        rows = sf.orderBy("id").collect()
        assert rows[0]["OGR_STYLE"] == 'PEN(c:#FF0000,w:5px);LABEL(t:"a;b")'
        assert "FID" in sf.columns

    def test_parse_style_udf_matches_parser(self, spark):
        """The vectorized UDF returns parse_style_string's (tool, params)
        parts per row, quoted separators and bare booleans included; a
        null style parses to no parts."""
        from gdal_spark.functions.style import parse_style

        styles = [
            'PEN(c:#00002A,w:7px);BRUSH(fc:#00FF00);'
            'LABEL(f:"Arial, Bold",t:"c;42:\\"x\\"",s:12pt,bo)',
            "SYMBOL(id:ogr-sym-3,c:#0000FF)",
            "", None]
        df = spark.createDataFrame(list(enumerate(styles)),
                                   "id int, style string")
        got = df.select("id", parse_style("style").alias("p")).orderBy(
            "id").collect()
        for r, text in zip(got, styles):
            exp = parse_style_string(text) if text is not None else []
            assert [(x["tool"], x["params"]) for x in r["p"]] == exp
        assert len(got[0]["p"]) == 3
