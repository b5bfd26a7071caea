package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.ds.DataSourceRegistry
import graft.jobclass.JobContext
import graft.runner.Job

/** 1:1 port of the reference's test_parameters.rb (401 LoC): each param
  * type × (job-file value, CLI option, default, missing) plus publication
  * semantics. Test names mirror the reference cases; `apply_values` maps to
  * materialize(values, _, _) and `apply_options` to materialize(_, opts, _).
  * Adapted points are commented (DataSourceParam resolves to a live object
  * at build in our engine, so the materialized value is the name).
  */
class ReferenceParametersSpec extends AnyFunSuite {

  private val noVars = Variables.empty

  private def values(p: Param, vals: Map[String, Any],
      vars: Variables = noVars): ParamValues =
    new ParamDecls(Seq(p)).materialize(vals, Map.empty, vars)

  private def options(p: Param, opts: Map[String, String],
      vars: Variables = noVars): ParamValues =
    new ParamDecls(Seq(p)).materialize(Map.empty, opts, vars)

  // StringParam

  test("StringParam (*.job)") {
    val pv = values(StringParam("options", optional = true),
      Map("options" -> "gzip, maxerror=3"))
    assert(pv.string("options") == "gzip, maxerror=3")
    assert(pv.publishedVariables.get("options").isEmpty)
  }

  test("StringParam (--opt)") {
    val pv = options(StringParam("options", optional = true),
      Map("options" -> "gzip, maxerror=3"))
    assert(pv.string("options") == "gzip, maxerror=3")
  }

  test("StringParam (default value)") {
    val pv = values(StringParam("options", optional = true), Map.empty)
    assert(pv.get("options").isEmpty)
  }

  test("StringParam (missing value)") {
    intercept[ParameterError] {
      values(StringParam("delete-cond"), Map.empty)
    }
  }

  // IntParam (batch-size / expire style options)

  test("IntParam parses, expands variables, accepts Int/Long values") {
    assert(values(IntParam("batch-size"), Map("batch-size" -> "5000"))
      .longOpt("batch-size").contains(5000L))
    assert(values(IntParam("batch-size"), Map("batch-size" -> 7))
      .longOpt("batch-size").contains(7L))
    assert(values(IntParam("expire"), Map("expire" -> "$ttl"),
      Variables("ttl" -> "86400")).longOpt("expire").contains(86400L))
  }

  test("IntParam rejects non-numeric and non-positive values as ParameterError") {
    val bad = intercept[ParameterError] {
      values(IntParam("batch-size"), Map("batch-size" -> "lots"))
    }
    assert(bad.getMessage.contains("batch-size"))
    intercept[ParameterError] {
      values(IntParam("batch-size"), Map("batch-size" -> "0"))
    }
    intercept[ParameterError] {
      values(IntParam("expire"), Map("expire" -> "-1"))
    }
  }

  // OptionalBoolParam

  test("OptionalBoolParam (*.job)") {
    val pv = values(OptionalBoolParam("vacuum-sort"), Map("vacuum-sort" -> true))
    assert(pv.bool("vacuum-sort"))
    assert(pv.publishedVariables.get("vacuum_sort").isEmpty)
  }

  test("OptionalBoolParam (--opt)") {
    val pv = options(OptionalBoolParam("vacuum-sort", publish = true),
      Map("vacuum-sort" -> "true"))
    assert(pv.bool("vacuum-sort"))
    assert(pv.publishedVariables.get("vacuum_sort").contains("true"))
  }

  test("OptionalBoolParam (default value #1)") {
    val pv = values(OptionalBoolParam("vacuum"), Map.empty)
    assert(!pv.bool("vacuum"))
    assert(pv.publishedVariables.get("vacuum").isEmpty)
  }

  test("OptionalBoolParam (default value #2)") {
    val pv = values(OptionalBoolParam("gzip", default = true), Map.empty)
    assert(pv.bool("gzip"))
  }

  // DateParam

  test("DateParam (*.job)") {
    val pv = values(DateParam("to"), Map("to" -> "2014-01-23"))
    assert(pv("to") == java.time.LocalDate.of(2014, 1, 23))
    assert(pv.publishedVariables.get("to").isEmpty)
  }

  test("DateParam (--opt)") {
    val pv = options(DateParam("to", publish = true), Map("to" -> "2014-01-23"))
    assert(pv("to") == java.time.LocalDate.of(2014, 1, 23))
    assert(pv.publishedVariables.get("to").contains("2014-01-23"))
  }

  test("DateParam (default value)") {
    val pv = values(DateParam("to", optional = true), Map.empty)
    assert(pv.get("to").isEmpty)
  }

  // EnumParam

  test("EnumParam (*.job)") {
    val pv = values(EnumParam("format", Seq("tsv", "json"), Some("tsv")),
      Map("format" -> "json"))
    assert(pv.string("format") == "json")
    assert(pv.publishedVariables.get("format").isEmpty)
  }

  test("EnumParam (--opt)") {
    val pv = options(EnumParam("format", Seq("tsv", "json"), None, publish = true),
      Map("format" -> "tsv"))
    assert(pv.string("format") == "tsv")
    assert(pv.publishedVariables.get("format").contains("tsv"))
  }

  test("EnumParam (default value)") {
    val pv = values(EnumParam("format", Seq("tsv", "json"), Some("tsv")), Map.empty)
    assert(pv.string("format") == "tsv")
  }

  // DataSourceParam — our param materializes the NAME; the live object is
  // resolved from the registry at script build (JobClass.sparkDs)

  test("DataSourceParam (*.job)") {
    val pv = values(DataSourceParam("sql"), Map("data-source" -> "app"))
    assert(pv.string("data-source") == "app")
    assert(pv.publishedVariables.get("data-source").isEmpty)
  }

  test("DataSourceParam (--opt)") {
    val pv = options(DataSourceParam("sql"), Map("data-source" -> "app"))
    assert(pv.string("data-source") == "app")
  }

  test("DataSourceParam (default value)") {
    val pv = values(DataSourceParam("sql"), Map.empty)
    assert(pv.get("data-source").isEmpty) // build falls back to the kind default
  }

  // SQLFileParam

  test("SQLFileParam (*.job)") {
    val pv = values(SqlFileParam(), Map("sql-file" -> "some_path.sql"))
    assert(pv.string("sql-file") == "some_path.sql")
    assert(pv.publishedVariables.get("sql_file").isEmpty)
  }

  test("SQLFileParam (--opt)") {
    val pv = options(SqlFileParam(), Map("sql-file" -> "some_path.sql"))
    assert(pv.string("sql-file") == "some_path.sql")
  }

  test("SQLFileParam (default value)") {
    val pv = values(SqlFileParam(optional = true), Map.empty)
    assert(pv.get("sql-file").isEmpty)
  }

  // DestTableParam

  test("DestTableParam (*.job)") {
    val pv = values(DestTableParam(), Map("dest-table" -> "schemaA.tableA"))
    assert(pv.table("dest-table") == TableSpec(Some("schemaA"), "tableA"))
    assert(pv.publishedVariables.get("dest_table").contains("schemaA.tableA"))
  }

  test("DestTableParam (--opt)") {
    val pv = options(DestTableParam(), Map("dest-table" -> "schemaA.tableA"))
    assert(pv.table("dest-table") == TableSpec(Some("schemaA"), "tableA"))
    assert(pv.publishedVariables.get("dest_table").contains("schemaA.tableA"))
  }

  test("DestTableParam (default value)") {
    val pv = values(DestTableParam(optional = true), Map.empty)
    assert(pv.get("dest-table").isEmpty)
    assert(pv.publishedVariables.get("dest_table").isEmpty)
  }

  test("DestTableParam (variable expansion)") {
    val pv = values(DestTableParam(), Map("dest-table" -> "$s.t"),
      Variables("s" -> "SCH"))
    assert(pv.table("dest-table") == TableSpec(Some("SCH"), "t"))
    assert(pv.publishedVariables.get("dest_table").contains("SCH.t"))
  }

  test("DestTableParam (no such variable)") {
    intercept[ParameterError] {
      values(DestTableParam(), Map("dest-table" -> "$s.t"))
    }
  }

  // SrcTableParam

  test("SrcTableParam (*.job)") {
    val pv = values(SrcTableParam(),
      Map("src-tables" -> Map("a" -> "$s.A", "b" -> "B")),
      Variables("s" -> "SCH"))
    assert(pv("src-tables") == Map(
      "a" -> TableSpec(Some("SCH"), "A"), "b" -> TableSpec(None, "B")))
    assert(pv.publishedVariables.get("a").contains("SCH.A"))
    assert(pv.publishedVariables.get("b").contains("B"))
  }

  test("SrcTableParam (--opt)") {
    // reference CLI form: --src-table=a:A
    val pv = options(SrcTableParam(), Map("src-tables" -> "a:A"))
    assert(pv("src-tables") == Map("a" -> TableSpec(None, "A")))
    assert(pv.publishedVariables.get("a").contains("A"))
  }

  test("SrcTableParam (default value)") {
    val pv = values(SrcTableParam(), Map.empty)
    assert(pv.get("src-tables").isEmpty)
    assert(pv.publishedVariables.get("a").isEmpty)
  }

  // DestFileParam / SrcFileParam

  test("DestFileParam (*.job)") {
    val pv = values(DestFileParam(), Map("dest-file" -> "/some/path.txt"))
    assert(pv.string("dest-file") == "/some/path.txt")
  }

  test("DestFileParam (--opt)") {
    val pv = options(DestFileParam(), Map("dest-file" -> "/some/path.txt"))
    assert(pv.string("dest-file") == "/some/path.txt")
  }

  test("DestFileParam (no value error)") {
    intercept[ParameterError] { values(DestFileParam(), Map.empty) }
  }

  test("SrcFileParam (*.job)") {
    val pv = values(SrcFileParam(), Map("src-file" -> "/some/path.txt"))
    assert(pv.string("src-file") == "/some/path.txt")
  }

  test("SrcFileParam (--opt)") {
    val pv = options(SrcFileParam(), Map("src-file" -> "/some/path.txt"))
    assert(pv.string("src-file") == "/some/path.txt")
  }

  test("SrcFileParam (no value error)") {
    intercept[ParameterError] { values(SrcFileParam(), Map.empty) }
  }

  // KeyValuePairsParam

  test("KeyValuePairsParam (*.job)") {
    val pv = values(KeyValuePairsParam("grant"),
      Map("grant" -> Map("on" -> "tbl", "to" -> "$user")),
      Variables("user" -> "group gg"))
    assert(pv.pairs("grant") == Map("on" -> "tbl", "to" -> "group gg"))
  }

  test("KeyValuePairsParam (default value)") {
    val pv = values(KeyValuePairsParam("grant"), Map.empty)
    assert(pv.pairs("grant") == Map.empty) // reference returns nil; ours {}
  }

  // StringListParam

  test("StringListParam (*.job)") {
    val pv = values(StringListParam("args", publish = true),
      Map("args" -> Seq("a", "$basedir", "c")),
      Variables("basedir" -> "/base/dir"))
    assert(pv("args") == Seq("a", "/base/dir", "c"))
    assert(pv.publishedVariables.get("args").contains("a /base/dir c"))
  }

  test("StringListParam (missing value)") {
    intercept[ParameterError] { values(StringListParam("args"), Map.empty) }
  }
}

/** 1:1 port of the reference's test_variables.rb (246 LoC): global variable
  * layering, per-job precedence (global < job-file rest < -v option), lazy
  * reference resolution across layers, and parameter values referencing
  * job-file/option variables. The job-level cases run through the real
  * Job.compile with a capturing job class.
  */
class ReferenceVariablesSpec extends AnyFunSuite {

  /** Run Job.compile with a one-StringParam job class, capturing the final
    * variable overlay and materialized params.
    */
  private def compileJob(globals: Variables, jobFileValues: Map[String, Any],
      cliVars: Variables = Variables.empty,
      params: Seq[Param] = Nil): (Variables, ParamValues) = {
    var capturedVars: Variables = null
    var capturedParams: ParamValues = null
    val jc = new graft.jobclass.ScalaJobClass("capture", params)({ (p, v, _) =>
      capturedParams = p; capturedVars = v; Nil
    })
    graft.jobclass.JobClass.register(jc)
    val ctx = JobContext(new DataSourceRegistry(Map.empty),
      graft.core.TempDirs.create("refvars"), "", globals)
    new Job("varprec", JobFile("capture", jobFileValues), ctx,
      Map.empty, cliVars).compile()
    (capturedVars, capturedParams)
  }

  test("global variable precedence") {
    // builtin < variable.yml (reference: context.rb global_variables)
    val builtin = Variables(
      "builtin_variable" -> "loc_builtin_value",
      "ow_yml_variable" -> "loc_builtin_value")
    val yml = Variables("ow_yml_variable" -> "loc_yml_value")
    val result = builtin.union(yml).resolve()
    assert(result("builtin_variable") == "loc_builtin_value")
    assert(result("ow_yml_variable") == "loc_yml_value") // overwritten
  }

  test("variable precedence (*.job)") {
    val gvars = Variables(
      "global_variable" -> "loc_global_value",
      "ow_rest_variable" -> "loc_global_value",
      "ow_job_option_variable" -> "loc_global_value")
    val (vars, _) = compileJob(gvars,
      Map("ow_rest_variable" -> "loc_rest_value",
        "ow_job_option_variable" -> "loc_rest_value"),
      cliVars = Variables("ow_job_option_variable" -> "loc_job_option_value"))
    assert(vars("global_variable") == "loc_global_value")
    assert(vars("ow_rest_variable") == "loc_rest_value") // overwritten
    assert(vars("ow_job_option_variable") == "loc_job_option_value") // overwritten
  }

  test("variable precedence (*.jobnet)") {
    // builtin < yml (globals), then rest < jobnet -v option
    val globals = Variables(
      "ow_global_variable" -> "BUILTIN_VALUE",
      "ow_rest_variable" -> "BUILTIN_VALUE",
      "ow_jobnet_option_variable" -> "BUILTIN_VALUE")
      .union(Variables(
        "ow_global_variable" -> "loc_yml_value",
        "ow_rest_variable" -> "loc_yml_value",
        "ow_jobnet_option_variable" -> "loc_yml_value"))
    val (vars, _) = compileJob(globals,
      Map("ow_rest_variable" -> "loc_rest_value",
        "ow_jobnet_option_variable" -> "loc_rest_value"),
      cliVars = Variables("ow_jobnet_option_variable" -> "loc_option_value"))
    assert(vars("ow_global_variable") == "loc_yml_value")
    assert(vars("ow_rest_variable") == "loc_rest_value")
    assert(vars("ow_jobnet_option_variable") == "loc_option_value")
  }

  test("lazy reference resolution") {
    val gvars = Variables(
      "gvar" -> "GVAR",
      "rest_var" -> "*global*",
      "job_opt" -> "*global*",
      "ref_gvar" -> "$gvar",
      "ref_rest_var" -> "$rest_var",
      "ref_job_opt" -> "$job_opt")
    val (vars, _) = compileJob(gvars,
      Map("rest_var" -> "REST_VAR"),
      cliVars = Variables("job_opt" -> "JOB_OPT"))
    assert(vars("ref_gvar") == "GVAR")
    assert(vars("ref_rest_var") == "REST_VAR")
    assert(vars("ref_job_opt") == "JOB_OPT")
  }

  test("job parameter can refer job file variables (direct)") {
    val (_, params) = compileJob(Variables.empty,
      Map("delete-cond" -> "data_date >= $window_begin",
        "window_begin" -> "current_date - 14"),
      params = Seq(StringParam("delete-cond")))
    assert(params.string("delete-cond") == "data_date >= current_date - 14")
  }

  test("job parameter can refer job file variables (indirect)") {
    val gvars = Variables(
      "window_span" -> "0",
      "window_begin" -> "current_date - $window_span")
    val (_, params) = compileJob(gvars,
      Map("delete-cond" -> "data_date >= $window_begin",
        "window_span" -> "14"),
      params = Seq(StringParam("delete-cond")))
    assert(params.string("delete-cond") == "data_date >= current_date - 14")
  }

  test("rest variable may reference a parameter-published variable") {
    // backup_table references $dest_table, which only exists AFTER params
    // publish — materialization must not fail on it (lenient pre-resolve)
    val (vars, params) = compileJob(Variables.empty,
      Map("dest-table" -> "public.users",
        "backup_table" -> "${dest_table}_bak"),
      params = Seq(DestTableParam()))
    assert(params.table("dest-table") == TableSpec(Some("public"), "users"))
    assert(vars("backup_table") == "public.users_bak")
  }

  test("option value can override job file variables") {
    val gvars = Variables(
      "window_span" -> "0",
      "window_begin" -> "current_date - $window_span")
    val (_, params) = compileJob(gvars,
      Map("delete-cond" -> "data_date >= $window_begin",
        "window_span" -> "14"),
      cliVars = Variables("window_begin" -> "date '2021-01-01'"),
      params = Seq(StringParam("delete-cond")))
    assert(params.string("delete-cond") == "data_date >= date '2021-01-01'")
  }
}
